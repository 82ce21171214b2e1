"""Layered benchmark of the near-duplicate engine.

    python3 perfbench/run.py --workload pages-8k --seed 1 --seconds 12 --trace 0

Runs one workload at ``local[<cores this process may use>]``, checks every
output, and prints a table followed by one JSON line on stdout:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` times the
workload's operation and reports the end-to-end metrics; ``--trace 1``
replays the public calls of every layer inside spans and reports the
per-layer metrics (see README.md).  ``--scaling`` instead runs the
workload pinned to one core and to every core, in a fresh process each,
and writes ``SCALING.json`` next to this file.

All state (corpus cache, Spark scratch, checkpoint roots, event logs, span
files) lives under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")

# Both workloads time near_dup_pipeline to a collected result; they differ
# in one input property, boilerplate skew.  The checkpointed path runs in
# the traced replay of both.
WORKLOADS = {
    "pages-8k": {"n": 8_000, "skew": False},
    "pages-skew-8k": {"n": 8_000, "skew": True},
}
THRESHOLD = 0.8
MINHASH_RECALL_GATE = 0.99
# every run times at least this many passes, so the median always has
# the same composition: the first timed pass is still ~20% slower than the
# next, and the median of three ignores it
MIN_PASSES = 3
# a run must exit within 180 s: start no operation after this
HARD_STOP_S = 120.0

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "pair_recall": "ratio",
    "pair_precision": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.corpus_s": "s",
    "arrow_sig.arrow_roundtrip_s": "s",
    "arrow_sig.band_rows_s": "s",
    "arrow_sig.compute_s": "s",
    "arrow_sig.docs_in": "count",
    "arrow_sig.band_rows_out": "count",
    "arrow_sig.band_bytes": "B",
    "arrow_sig.participant_sigs_s": "s",
    "arrow_sig.participant_frac": "ratio",
    "pairs.candidate_pairs_s": "s",
    "pairs.shuffle_write_bytes": "B",
    "pairs.reduce_skew": "ratio",
    "pairs.multi_groups": "count",
    "pairs.star_groups": "count",
    "pairs.star_docs": "count",
    "pairs.candidates": "count",
    "verify.verified_pairs_s": "s",
    "verify.pairs_out": "count",
    "verify.yield": "ratio",
    "components.connected_components_s": "s",
    "components.edges": "count",
    "components.clusters": "count",
    "checkpoint.signatures_stage_s": "s",
    "checkpoint.pairs_stage_s": "s",
    "checkpoint.clusters_stage_s": "s",
    "checkpoint.resume_s": "s",
    "checkpoint.labelprop_iters": "count",
    "checkpoint.bytes_written": "B",
    "checkpoint.files_written": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.ckpt_jobs": "count",
    "spark.core_util": "ratio",
    "mem.peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
}
TYPE_BYTES = {"bigint": 8, "int": 4}


def _identity_batches(batches):
    yield from batches


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scaling", action="store_true")
    return p.parse_args(argv)


def prepare_env():
    """Point every scratch path of Spark, the JVM and the Python workers
    into the checkout, and let the workers import the engine."""
    for d in ("spark-local", "tmp", "cache", "ckpt", "eventlog", "traces"):
        os.makedirs(os.path.join(STATE, d), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    os.environ["TMPDIR"] = os.path.join(STATE, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(STATE, 'tmp')} -XX:-UsePerfData"
    )
    sys.path.insert(0, ROOT)


def stop_spark():
    """Stop the session, then end the JVM and wait for it: closing the
    gateway's stdin is the JVM's signal to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def dir_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for base, _, names in os.walk(path):
        for name in names:
            size += os.path.getsize(os.path.join(base, name))
            files += 1
    return size, files


class Run:
    """One benchmark process: a session, one corpus, its truth and the
    reference clustering every later operation must reproduce."""

    def __init__(self, args):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.n = self.wl["n"]
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.phases: dict[str, float] = {}
        self.tag = f"{args.workload}-s{args.seed}-p{os.getpid()}"
        self.ckpt_root = os.path.join(STATE, "ckpt", self.tag)
        self.quality: dict = {}
        self.op_walls: list[float] = []

    # -- set-up -------------------------------------------------------------
    def setup(self):
        from pyspark.sql import SparkSession

        from bloom_filters_spark.operators.arrow_sig import signatures_arrow
        from bloom_filters_spark.pipeline import NearDupConfig
        from bloom_filters_spark.session import get_spark
        from perfbench import corpus

        self.cfg = NearDupConfig(threshold=THRESHOLD)
        conf = {"spark.sql.warehouse.dir": os.path.join(STATE, "warehouse")}
        if self.args.trace:
            self.eventlog_dir = os.path.join(STATE, "eventlog", self.tag)
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cores=self.cores, extra_conf=conf)
        self.sc = self.spark.sparkContext
        self.phases["session"] = time.perf_counter() - t0
        if self.sc.defaultParallelism != self.cores:
            raise RuntimeError(
                f"defaultParallelism {self.sc.defaultParallelism} != {self.cores} cores: "
                "the session ignored the requested master"
            )
        # one input partition per corpus file at every core count
        self.spark.conf.set("spark.sql.files.openCostInBytes", str(128 << 20))

        t0 = time.perf_counter()
        cache = os.path.join(STATE, "cache")
        self.cache_hit = corpus.ensure_corpus(cache, self.n, self.wl["skew"], self.args.seed)
        path = corpus.corpus_dir(cache, self.n, self.wl["skew"], self.args.seed)
        self.docs = self.spark.read.parquet(path)
        texts = corpus.load_texts(path, self.n)
        self.phases["corpus"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        self.jaccard = corpus.planted_jaccard(texts, self.cfg.shingle_size)
        self.phases["jaccard"] = time.perf_counter() - t0

        # untimed warm-up: the first pass in a fresh JVM costs 2-3x a warm
        # one.  Its clusters are the reference every later pass,
        # checkpointed run and traced replay must reproduce exactly.
        t0 = time.perf_counter()
        self.ref = self.pipeline_labels()
        self.ref_digest = corpus.labels_digest(self.ref)
        self.phases["warm_up"] = time.perf_counter() - t0

        # MinHash truth (signing every doc is cheaper than filtering by a
        # long id list)
        t0 = time.perf_counter()
        self.set_truth(signatures_arrow(
            self.docs, self.cfg.factory(),
            shingle_size=self.cfg.shingle_size, max_value=self.cfg.max_value,
        ).toArrow())
        self.phases["minhash_truth"] = time.perf_counter() - t0
        self.setup_s = time.perf_counter() - T_START

    def set_truth(self, sig_tbl):
        """Planted pairs whose MinHash estimate reaches the threshold, from
        a (doc_id, signature) table of every doc; then gate the reference."""
        import numpy as np

        from perfbench import corpus

        k = self.cfg.num_hashes
        sig = np.zeros((self.n, k), dtype=np.int64)
        sig[sig_tbl.column("doc_id").to_numpy()] = (
            sig_tbl.column("signature").combine_chunks().flatten().to_numpy().reshape(-1, k)
        )
        half = len(self.jaccard)
        est = (sig[0: 2 * half: 2] == sig[1: 2 * half: 2]).mean(axis=1)
        self.est_pairs = np.flatnonzero(est >= THRESHOLD)
        self.quality = corpus.pair_quality(self.ref, self.jaccard, self.est_pairs, THRESHOLD)
        self.check(self.quality["minhash_recall"] >= MINHASH_RECALL_GATE,
                   f"reference minhash recall {self.quality['minhash_recall']:.4f}")

    # -- checks -------------------------------------------------------------
    def check(self, ok: bool, what: str):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"wrong output: {what}")

    def check_labels(self, lab, what: str):
        from perfbench import corpus

        self.check(corpus.labels_digest(lab) == self.ref_digest, f"{what} != reference clusters")

    def guarded(self, fn):
        try:
            return fn()
        except Exception:  # one failed operation must not end the run
            self.attempted += 1
            self.failed += 1
            self.notes.append(traceback.format_exc(limit=4))
            return None

    # -- operations -----------------------------------------------------------
    def pipeline_labels(self):
        from bloom_filters_spark.pipeline import near_dup_pipeline
        from perfbench import corpus

        self.spark.catalog.clearCache()
        return corpus.cluster_labels(near_dup_pipeline(self.docs, self.cfg).toArrow(), self.n)

    def pipeline_op(self) -> float:
        """One timed pass; equal to the reference, it passes the reference's
        recall gate too."""
        t0 = time.perf_counter()
        lab = self.pipeline_labels()
        wall = time.perf_counter() - t0
        self.check_labels(lab, "pipeline pass")
        return wall

    def checkpointed(self):
        from bloom_filters_spark.checkpoint import CheckpointConfig, CheckpointedNearDup

        return CheckpointedNearDup(self.spark, self.cfg, CheckpointConfig(root=self.ckpt_root))

    def resume(self):
        """A second run over the completed root: must read, not recompute."""
        from perfbench import corpus

        ck = self.checkpointed()
        lab = corpus.cluster_labels(ck.run(self.docs).toArrow(), self.n)
        self.check_labels(lab, "resumed checkpoint clusters")
        redone = [c for c in ck.metrics() if c.get("recomputed") or c.get("recomputed_buckets")]
        self.check(not redone, f"resume recomputed {redone}")

    # -- untraced run ---------------------------------------------------------
    def measure(self) -> dict:
        walls = []
        t0 = time.perf_counter()
        while True:
            wall = self.guarded(self.pipeline_op)
            if wall is None:
                break
            walls.append(wall)
            done = time.perf_counter() - t0 >= self.args.seconds and len(walls) >= MIN_PASSES
            if done or time.perf_counter() - T_START > HARD_STOP_S:
                break
        self.op_walls = walls
        if not walls:
            return {}
        return {
            "setup_s": (self.setup_s, 1),
            "docs_per_s": (statistics.median(self.n / w for w in walls), len(walls)),
            "pair_recall": (self.quality["pair_recall"], self.quality["truth_pairs"]),
            "pair_precision": (self.quality["pair_precision"], 1),
        }

    # -- traced run -----------------------------------------------------------
    def measure_traced(self) -> dict:
        from pyspark.sql import functions as F

        from bloom_filters_spark.operators.arrow_sig import fused_band_rows, signatures_arrow
        from bloom_filters_spark.operators.components import connected_components
        from bloom_filters_spark.operators.pairs import candidate_pairs
        from bloom_filters_spark.pipeline import lsh_bands, verified_pairs
        from perfbench import corpus
        from perfbench.spans import EventLog, Tracer

        cfg, docs, n = self.cfg, self.docs, self.n
        tr = Tracer(self.sc, self.tag)
        m: dict = {}

        # the first pass after warm-up is still ~15% slower than the next,
        # so the untraced base is the second
        for name in ("pass.first", "pass"):
            with tr.span(name) as s_pass:
                lab = self.pipeline_labels()
            self.check_labels(lab, "untraced pass")

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        self.spark.catalog.clearCache()
        with tr.span("arrow_sig.arrow_roundtrip") as s_rt:
            noop(docs.select("doc_id", "text").mapInArrow(
                _identity_batches, "doc_id long, text string"))
        fused = fused_band_rows(
            docs, cfg.factory(), cfg.bands, cfg.rows_per_band, cfg.shingle_size,
            cfg.max_value, hash_bits=cfg.resolved_band_hash_bits,
        )
        with tr.span("arrow_sig.fused_band_rows") as s_band:
            noop(fused)

        # the fused path of near_dup_pipeline, one materialized call per span
        with tr.span("replay") as s_replay:
            with tr.span("arrow_sig.fused_band_rows.persist"):
                bands = fused.persist()
                m["arrow_sig.band_rows_out"] = bands.count()
            mode = "grouped" if n <= cfg.pair_mode_threshold else "count_join"
            with tr.span("pairs.candidate_pairs") as s_cand:
                cands = candidate_pairs(bands, cfg.max_band_group, mode=mode).persist()
                m["pairs.candidates"] = cands.count()
            with tr.span("arrow_sig.signatures_arrow") as s_sig:
                ids = (
                    cands.select(F.col("id1").alias("doc_id"))
                    .unionByName(cands.select(F.col("id2").alias("doc_id")))
                    .distinct()
                )
                sigs = signatures_arrow(
                    docs.join(F.broadcast(ids), "doc_id", "left_semi"), cfg.factory(),
                    shingle_size=cfg.shingle_size, max_value=cfg.max_value,
                ).persist()
                participants = sigs.count()
            with tr.span("verify.verified_pairs") as s_ver:
                pairs = verified_pairs(cands, sigs, cfg, sigs_restricted=True).persist()
                n_pairs = pairs.count()
            with tr.span("components.connected_components") as s_cc:
                lab = corpus.cluster_labels(connected_components(
                    pairs, vertices=docs.select("doc_id"), n_edges=n_pairs
                ).toArrow(), n)
        self.check_labels(lab, "traced replay")

        def group_stats(band_df):
            sizes = band_df.groupBy("band_id", "band_hash").count()
            hot = F.col("count") > cfg.max_band_group
            return sizes.filter("count >= 2").agg(
                F.count(F.lit(1)).alias("multi"),
                F.coalesce(F.sum(hot.cast("long")), F.lit(0)).alias("star"),
                F.coalesce(F.sum(F.when(hot, F.col("count"))), F.lit(0)).alias("star_docs"),
            ).first()

        with tr.span("pairs.band_groups"):
            groups = group_stats(bands)
        band_width = sum(TYPE_BYTES[t] for _, t in bands.dtypes)
        for df in (bands, cands, sigs, pairs):
            df.unpersist()

        shutil.rmtree(self.ckpt_root, ignore_errors=True)
        self.spark.catalog.clearCache()
        ck = self.checkpointed()
        try:
            with tr.span("checkpoint.run") as s_ck:
                with tr.span("checkpoint.signatures_stage") as s_cs:
                    ck_sigs = ck.signatures_stage(docs)
                    ck_sigs.count()
                with tr.span("checkpoint.pairs_stage") as s_cp:
                    ck_pairs = ck.pairs_stage(ck_sigs)
                    ck_pairs.count()
                with tr.span("checkpoint.clusters_stage") as s_cl:
                    lab = corpus.cluster_labels(
                        ck.clusters_stage(ck_pairs, docs.select("doc_id")).toArrow(), n)
            self.check_labels(lab, "traced checkpoint")
            ck_bytes, ck_files = dir_bytes_files(self.ckpt_root)
            with tr.span("checkpoint.resume") as s_res:
                self.resume()
            # the unfused bands of the checkpointed signatures must group
            # exactly like the fused kernel's
            self.check(group_stats(lsh_bands(ck_sigs, cfg)) == groups,
                       "checkpointed band groups != fused band groups")
        finally:
            shutil.rmtree(self.ckpt_root, ignore_errors=True)

        stop_spark()
        ev = EventLog(self.eventlog_dir)

        def summary(span):
            return ev.summary(tr.subtree(span), span["wall_s"], self.cores)

        base, cand_ev = summary(s_pass), summary(s_cand)
        m.update({
            "session.start_s": self.phases["session"],
            "sources.corpus_s": self.phases["corpus"],
            "arrow_sig.arrow_roundtrip_s": s_rt["wall_s"],
            "arrow_sig.band_rows_s": s_band["wall_s"],
            "arrow_sig.compute_s": s_band["wall_s"] - s_rt["wall_s"],
            "arrow_sig.docs_in": n,
            "arrow_sig.band_bytes": m["arrow_sig.band_rows_out"] * band_width,
            "arrow_sig.participant_sigs_s": s_sig["wall_s"],
            "arrow_sig.participant_frac": participants / n,
            "pairs.candidate_pairs_s": s_cand["wall_s"],
            "pairs.shuffle_write_bytes": cand_ev["shuffle_write_bytes"],
            "pairs.reduce_skew": cand_ev["reduce_skew"],
            "pairs.multi_groups": groups["multi"],
            "pairs.star_groups": groups["star"],
            "pairs.star_docs": groups["star_docs"],
            "verify.verified_pairs_s": s_ver["wall_s"],
            "verify.pairs_out": n_pairs,
            "verify.yield": n_pairs / max(m["pairs.candidates"], 1),
            "components.connected_components_s": s_cc["wall_s"],
            "components.edges": n_pairs,
            "components.clusters": corpus.multi_doc_clusters(lab),
            "checkpoint.signatures_stage_s": s_cs["wall_s"],
            "checkpoint.pairs_stage_s": s_cp["wall_s"],
            "checkpoint.clusters_stage_s": s_cl["wall_s"],
            "checkpoint.resume_s": s_res["wall_s"],
            "checkpoint.labelprop_iters": sum(1 for c in ck.metrics() if c["stage"] == "labels"),
            "checkpoint.bytes_written": ck_bytes,
            "checkpoint.files_written": ck_files,
            "spark.jobs": base["jobs"],
            "spark.stages": base["stages"],
            "spark.ckpt_jobs": summary(s_ck)["jobs"],
            "spark.core_util": base["core_util"],
            "trace.overhead_frac": s_replay["wall_s"] / s_pass["wall_s"] - 1,
        })
        self.spans_path = os.path.join(STATE, "traces", f"{self.tag}.json")
        tr.write(self.spans_path, {
            "workload": self.args.workload, "seed": self.args.seed, "cores": self.cores,
            "span_summaries": {s["id"]: summary(s) for s in tr.spans},
        })
        return {k: (v, 1) for k, v in m.items()}


def report(run: Run, values: dict, units: dict):
    print(f"# workload={run.args.workload} seed={run.args.seed} cores={run.cores} "
          f"docs={run.n} corpus_cache={'hit' if run.cache_hit else 'miss'} "
          + " ".join(f"{k}={v:.6g}" for k, v in run.quality.items()))
    print("# setup phases: " + " ".join(f"{k}={v:.2f}s" for k, v in run.phases.items()))
    if run.op_walls:
        print("# timed operations: " + " ".join(f"{w:.2f}s" for w in run.op_walls))
    for note in run.notes:
        print("# " + note.replace("\n", "\n# "))
    for name, unit in units.items():
        if name in values:
            v, samples = values[name]
            print(f"# {name:36s} {v:>16.6g} {unit:8s} n={samples}")
    if hasattr(run, "spans_path"):
        print(f"# spans written to {os.path.relpath(run.spans_path, ROOT)}")
    missing = [k for k in units if k not in values]
    print(json.dumps({
        "correct": run.failed == 0 and not missing,
        "attempted": max(run.attempted, 1),
        "failed": max(run.failed, 1) if missing else run.failed,
        "metrics": {k: {"value": values[k][0], "unit": u}
                    for k, u in units.items() if k in values},
    }))


def scaling(args) -> int:
    """docs_per_s pinned to one core and to every core, in fresh JVMs."""
    cores = sorted(os.sched_getaffinity(0))
    out = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds}
    for cpus in (cores[:1], cores):
        cmd = ["taskset", "-c", ",".join(map(str, cpus)), sys.executable,
               os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        out[f"local[{len(cpus)}]"] = json.loads(res.stdout.strip().splitlines()[-1])
    hi = out[f"local[{len(cores)}]"]["metrics"]["docs_per_s"]["value"]
    lo = out["local[1]"]["metrics"]["docs_per_s"]["value"]
    out[f"scaling_eff_1v{len(cores)}"] = hi / lo / len(cores)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "SCALING.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k.startswith("scaling")}))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bloom_filters_spark")):
        print(f"error: the engine package bloom_filters_spark is not in {ROOT}",
              file=sys.stderr)
        return 2
    if args.scaling:
        return scaling(args)
    prepare_env()
    run = Run(args)
    try:
        if args.trace:
            from perfbench.spans import RssSampler

            with RssSampler() as rss:
                run.setup()
                values = run.measure_traced()
            values["mem.peak_rss_mb"] = (rss.peak_kb / 1024.0, 1)
        else:
            run.setup()
            values = run.measure()
    finally:
        stop_spark()
    report(run, values, PER_LAYER if args.trace else END_TO_END)
    return 0


if __name__ == "__main__":
    sys.exit(main())
