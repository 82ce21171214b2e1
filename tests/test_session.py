"""``get_spark`` on an already-running session: static confs of the new
call cannot take effect, and the caller must be told which."""

import warnings

import pytest

from bloom_filters_spark.session import get_spark


def test_reuse_with_same_confs_is_silent(spark):
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert get_spark("pytest", cores=8, shuffle_partitions=8) is spark


def test_reuse_with_other_static_conf_warns(spark):
    # same master: only a static shuffle conf differs (the A/B case)
    key = "spark.shuffle.file.buffer"
    running = spark.sparkContext.getConf().get(key)
    with pytest.warns(RuntimeWarning, match=key):
        s = get_spark("pytest", cores=8, shuffle_partitions=8,
                      extra_conf={key: "64k"})
    assert s is spark
    assert s.sparkContext.getConf().get(key) == running != "64k"


def test_reuse_with_other_master_warns(spark):
    with pytest.warns(RuntimeWarning, match="spark.master"):
        get_spark("pytest", cores=2, shuffle_partitions=8)
