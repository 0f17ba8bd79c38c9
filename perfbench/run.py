"""Benchmark: batch dedup and incremental fold, end to end and per layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload batch_dupheavy --seed 1 --seconds 10 --trace 0

Workloads (one closed-loop client that waits on every call, ``local[4]``):

* ``batch_dupheavy``: ``run_pipeline`` over a corpus where ~60% of the files
  sit in duplicate families.  The timed pipeline is the first in its JVM,
  as a batch job submitted on its own would be.
* ``fold_delta``: each timed operation is one ``incremental_dedup_update``
  of a 2% delta (from ``--seed``) into a base checkpoint: ``run_pipeline``
  over a fixed-seed fresh corpus, built during set-up in the run's own JVM.
  That build is also the JVM's warm-up: a fold right after it takes about
  two thirds of a cold JVM's first fold.

Operations repeat until ``--seconds`` of operation time have passed (at
least one); ``op_s`` is their median.  Every operation is checked:
the sha256 invariant and the output key set (batch), ``n_delta`` against the
unique new rows (fold), and dup-pair recall ≥ 0.99 against the planted
truth (both).

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` turns on the
plain-JSON Spark event log, attributes every job to the layer that
scheduled it and prints the per-layer metrics instead; in that mode both
workloads run a traced pipeline, a traced fold into its checkpoint and the
query surface (``surface.py``: 14 declared queries on tables generated from
``--seed``, each checked against DuckDB or its exact twin), so every layer is
reported on both.  The last stdout line is the result object; the line
before it holds context (sizes, config, host probes, vCPU steal).  A run's
work files live under ``.bench_build/perfbench/run-<pid>`` and are removed
on exit.
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
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_build" / "perfbench"
CORES = 4
HEAP = "3g"
BATCH_FILES = 1000
FOLD_BASE_FILES = 1000
BASE_SEED = 0  # the fold's base is fixed; deltas come from --seed
FOLD_DELTA_ROWS = 20  # 2% of the base
QUERY_ROWS = 500  # documents and embeddings rows, as the sf0.01 test tables
MAX_FOLDS = 64
RECALL_FLOOR = 0.99  # BASELINE target
STAGES = (
    "identity", "quarantine", "exact", "norm", "signatures", "bands",
    "anchors", "candidate_edges", "substring_edges", "edges",
    "cluster_labels", "clusters",
)
SKEW_STAGES = ("signatures", "candidate_edges", "substring_edges", "cluster_labels")
WORKLOADS = ("batch_dupheavy", "fold_delta")


def _dir_bytes(path: Path, since: float = 0.0) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(dirpath, n))
            if st.st_mtime >= since:
                total += st.st_size
    return total


def _busy_loop_s(n: int = 500_000) -> float:
    """No-Spark CPU probe: CORES concurrent interpreters spinning an LCG."""
    code = (f"x = 0\nfor _ in range({n}):\n"
            "    x = (x * 1103515245 + 12345) & 0xFFFFFFFF\n")
    t0 = time.perf_counter()
    procs = [subprocess.Popen([sys.executable, "-c", code]) for _ in range(CORES)]
    for p in procs:
        p.wait()
    return time.perf_counter() - t0


def _codegen_s(spark) -> float:
    """Pure-codegen Spark probe: sha2 over 500k ids into the noop sink."""
    from pyspark.sql import functions as F

    df = spark.range(500_000).select(F.sha2(F.col("id").cast("string"), 256))
    df.write.format("noop").mode("overwrite").save()
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _probes(spark) -> dict:
    """Host-window context taken before and after the timed section."""
    return {"busy_loop_s": _busy_loop_s(), "codegen_s": _codegen_s(spark)}


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.run_dir = WORK / f"run-{os.getpid()}"
        self.attempted = self.failed = 0
        self.op_s: list[float] = []
        self.op_cpu_s: list[float] = []
        self.scores: list[tuple[float, float]] = []
        self.state_bpf: list[float] = []
        self.context: dict = {"workload": workload, "seed": seed, "cores": CORES, "heap": HEAP}
        self.deltas = None  # enumerate(fold_deltas(...)), shared by every fold
        self.n_state = 0  # files held in the fold's state
        self.tracer = None
        self.spark = None

    # ---- session and inputs -------------------------------------------------

    def start_session(self) -> float:
        from cloud_dedup_spark.session import build_session

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.run_dir / "spark-local"),
            "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
        }
        if self.trace:
            (self.run_dir / "eventlog").mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.run_dir / "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = build_session(
            app_name=f"perfbench-{self.workload}", master=f"local[{CORES}]",
            extra_conf=conf,
        )
        return time.perf_counter() - t0

    def write_files(self, rows: list[dict], name: str):
        """Land rows as a parquet table of CORES files (the production input
        shape) and return the table read back."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from inputs import FILE_COLUMNS

        schema = pa.schema([pa.field(c, pa.string(), c not in ("repo", "path", "commit"))
                            for c in FILE_COLUMNS])
        path = self.run_dir / "input" / name
        path.mkdir(parents=True)
        for i in range(CORES):
            pq.write_table(pa.Table.from_pylist(rows[i::CORES], schema),
                           path / f"part-{i}.parquet")
        return self.spark.read.parquet(str(path))

    # ---- checks -------------------------------------------------------------

    def score(self, assignments, truth) -> tuple[float, float, set]:
        from inputs import pair_scores

        clusters: dict = {}
        keys = set()
        for r in assignments.select("repo", "path", "cluster_id", "quarantined").collect():
            key = (r["repo"], r["path"])
            keys.add(key)
            cid = ("q", key) if r["quarantined"] else r["cluster_id"]
            clusters.setdefault(cid, set()).add(key)
        recall, precision = pair_scores([c for c in clusters.values() if len(c) > 1], truth)
        return recall, precision, keys

    def count(self, op: str, ok: bool) -> None:
        """Count one checked operation; the context names each that failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.context.setdefault("failed_ops", []).append(op)

    def record(self, op: str, ok: bool, recall: float, precision: float, state: Path,
               n_files: int):
        """Count one checked operation and feed its scores to the metrics."""
        self.count(op, ok and recall >= RECALL_FLOOR)
        self.scores.append((recall, precision))
        self.state_bpf.append(_dir_bytes(state) / n_files)

    # ---- operations ---------------------------------------------------------

    def pipeline(self, files, ckpt: Path, corpus, timed: bool):
        from cloud_dedup_spark import run_pipeline
        from cloud_dedup_spark.plans.pipeline import invariant_violations

        from tracing import tree_cpu_s

        layer = self.tracer.layer("pipeline") if self.tracer else nullcontext()
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        with layer:
            res = run_pipeline(self.spark, files, checkpoint_dir=str(ckpt), track_rows=False)
        wall = time.perf_counter() - t0
        if timed:
            self.op_s.append(wall)
            self.op_cpu_s.append(tree_cpu_s() - cpu0)
            ok = invariant_violations(res["identity"], files).count() == 0
            recall, precision, keys = self.score(res["assignments"], corpus.clusters)
            ok &= keys == {(r["repo"], r["path"]) for r in corpus.rows}
            self.record("pipeline", ok, recall, precision, ckpt, len(corpus.rows))
        return res, wall

    def fold(self, state: Path) -> tuple[dict, float, int]:
        """Land the next delta and fold it into ``state``; returns the fold's
        ``cc_stats``, its wall seconds and the state bytes it wrote."""
        from cloud_dedup_spark.streaming.incremental import incremental_dedup_update

        from tracing import tree_cpu_s

        k, delta = next(self.deltas)
        self.n_state += delta.n_new
        files = self.write_files(delta.rows, f"delta{k}")
        layer = self.tracer.layer(f"fold.{k}") if self.tracer else nullcontext()
        since = time.time()  # file mtimes are epoch seconds
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        with layer:
            res = incremental_dedup_update(self.spark, files, str(state))
        wall = time.perf_counter() - t0
        self.op_s.append(wall)
        self.op_cpu_s.append(tree_cpu_s() - cpu0)
        recall, precision, _ = self.score(res["assignments"], delta.clusters)
        self.record(f"fold.{k}", res["n_delta"] == delta.n_new, recall, precision, state,
                    self.n_state)
        return res["cc_stats"], wall, _dir_bytes(state, since=since)

    # ---- workloads ----------------------------------------------------------

    def build_inputs(self, build, name: str):
        """Generate the inputs three times (median time; once when tracing,
        which reports no set-up time) and land them once."""
        times = []
        for _ in range(1 if self.trace else 3):
            t0 = time.perf_counter()
            corpus = build()
            times.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        files = self.write_files(corpus.rows, name)
        return corpus, files, statistics.median(times) + time.perf_counter() - t0

    def run(self) -> dict:
        import inputs

        state = self.run_dir / "state"
        session_s = self.start_session()
        if self.workload == "batch_dupheavy":
            corpus, files, inputs_s = self.build_inputs(
                lambda: inputs.dupheavy_corpus(BATCH_FILES, self.seed), "corpus")
        else:
            corpus, files, inputs_s = self.build_inputs(
                lambda: inputs.fresh_corpus(FOLD_BASE_FILES, BASE_SEED), "base")
        self.n_state = len(corpus.rows)
        self.deltas = enumerate(inputs.fold_deltas(corpus, FOLD_DELTA_ROWS, MAX_FOLDS, self.seed))
        base_s = 0.0
        if self.workload == "fold_delta" and not self.trace:
            # the fold's base checkpoint, built in this JVM, which it also
            # warms: a cold JVM's first fold takes about half as long again
            base_s = self.pipeline(files, state, corpus, timed=False)[1]
        self.context.update(shape=corpus.shape, session_s=session_s,
                            inputs_s=inputs_s, base_s=base_s)
        setup_s = session_s + inputs_s + base_s
        if not self.trace:
            self.context["probe_pre"] = _probes(self.spark)

        from tracing import RssSampler, host_steal_s

        steal0 = host_steal_s()
        with RssSampler() as rss:
            if self.trace:
                per_layer = self.traced(corpus, files, state)
            elif self.workload == "batch_dupheavy":
                i = 0
                while i == 0 or sum(self.op_s) < self.seconds:
                    ckpt = self.run_dir / f"op{i}"
                    self.pipeline(files, ckpt, corpus, timed=True)
                    shutil.rmtree(ckpt)
                    i += 1
            else:
                while not self.op_s or sum(self.op_s) < self.seconds:
                    self.fold(state)
        self.context["op_s"] = self.op_s
        self.context["op_cpu_s"] = self.op_cpu_s
        self.context["steal_s"] = host_steal_s() - steal0
        if self.trace:
            return per_layer
        self.context["probe_post"] = _probes(self.spark)
        recall, precision = (statistics.median([s[i] for s in self.scores]) for i in (0, 1))
        return {
            "setup_s": (setup_s, "s"),
            "op_s": (statistics.median(self.op_s), "s"),
            "op_cpu_s": (statistics.median(self.op_cpu_s), "s"),
            "pair_recall": (recall, "ratio"),
            "pair_precision": (precision, "ratio"),
            "state_bytes_per_file": (statistics.median(self.state_bpf), "B/file"),
            "peak_rss_mb": (rss.peak / 2**20, "MB"),
        }

    def traced(self, corpus, files, state: Path) -> dict:
        """The same sequence on both workloads, so both report every layer:
        a traced pipeline over the workload's corpus, a fold into its
        checkpoint, then the query surface.  ``trace.op_s`` is the
        counterpart of an untraced run's ``op_s``: the pipeline
        (batch_dupheavy) or the median fold (fold_delta, whose pipeline is
        the base build).

        Each pipeline stage's jobs are tagged ``stage.<name>`` by wrapping
        ``CheckpointStore.materialize``; each fold call is tagged ``fold.<k>``
        and each query ``q.<name>``."""
        from tracing import Tracer, read_event_log

        from cloud_dedup_spark.plans.pipeline import CheckpointStore

        tracer = self.tracer = Tracer(self.spark.sparkContext)
        orig = CheckpointStore.materialize

        def materialize(store, name, build):
            with tracer.layer(f"stage.{name}"):
                return orig(store, name, build)

        CheckpointStore.materialize = materialize
        try:
            pipe_wall = self.pipeline(files, state, corpus, timed=True)[1]
        finally:
            CheckpointStore.materialize = orig
        counts = _stage_counts(self.spark, state)  # before any fold appends to it
        fold = self.fold(state)
        self.query_surface()
        self.spark.stop()
        self.spark = None
        op_wall = pipe_wall if self.workload == "batch_dupheavy" else fold[1]
        layers = read_event_log(str(self.run_dir / "eventlog"), tracer.spans)
        # jobs outside every span: session start-up, input landing, checks
        self.context["unattributed_jobs"] = layers[""].jobs if "" in layers else 0
        return _per_layer(layers, tracer.spans, fold, counts, op_wall)

    def query_surface(self) -> None:
        """Each query of ``surface.QUERIES`` once, under its own layer, on
        tables generated from the seed; each answer is checked."""
        import __spark_entry__
        import inputs
        import surface

        tables = inputs.query_tables(QUERY_ROWS, QUERY_ROWS, self.seed)
        sf_dir = self.run_dir / "sf"
        surface.land(tables, sf_dir)
        checker = surface.Checker(sf_dir, tables)
        builders = __spark_entry__.queries()
        for name in surface.QUERIES:
            try:
                with self.tracer.layer(f"q.{name}"):
                    df = builders[name](self.spark, str(sf_dir))
                    rows = [tuple(r) for r in df.collect()]
                ok = checker.ok(name, df.columns, rows)
            except Exception as e:  # a query that raises is a failed operation
                print(f"perfbench: query {name} raised {e!r}", file=sys.stderr)
                ok = False
            self.count(f"q.{name}", ok)


def _stage_counts(spark, state: Path) -> dict:
    """Work counts read from the stage tables the traced pipeline wrote."""
    from pyspark.sql import functions as F

    def load(name):
        return spark.read.parquet(str(state / name))

    cand = load("candidate_edges").agg(
        F.count(F.lit(1)).alias("n"), F.count(F.when(F.col("accepted"), 1)).alias("acc")
    ).first()
    needles = load("anchors").select("src").distinct().count()
    return {
        "identity": load("identity").count(),
        "signatures": load("signatures").count(),
        "candidates": cand["n"],
        "accepted": cand["acc"],
        "needles": needles,
        "substring_hits": load("substring_edges").select("needle").distinct().count(),
    }


def _per_layer(layers: dict, spans: list, fold: tuple, counts: dict, op_wall: float) -> dict:
    from surface import QUERIES as QUERY_NAMES
    from tracing import LayerRollup, merge

    out: dict = {}
    span = {s.layer: s for s in spans}
    empty = LayerRollup()
    stage_rolls = []
    for name in STAGES:
        roll, sp = layers.get(f"stage.{name}", empty), span[f"stage.{name}"]
        stage_rolls.append(roll)
        out[f"stage.{name}.wall_s"] = (sp.end - sp.start, "s")
        out[f"stage.{name}.task_s"] = (roll.task_s, "s")
        out[f"stage.{name}.shuffle_mb"] = (roll.shuffle_mb, "MB")
        out[f"stage.{name}.jobs"] = (roll.jobs, "count")
        if name in ("norm", "signatures"):
            out[f"stage.{name}.py_cpu_s"] = (sp.py_cpu_s, "s")
        if name in SKEW_STAGES:
            out[f"stage.{name}.skew"] = (roll.skew(), "ratio")
    pipe_sp = span["pipeline"]
    pipe = merge(stage_rolls + [layers.get("pipeline", empty)])
    wall = pipe_sp.end - pipe_sp.start
    out.update({
        "pipeline.wall_s": (wall, "s"),
        "pipeline.idle_s": (wall - pipe.busy_s(pipe_sp.start, pipe_sp.end), "s"),
        "pipeline.core_util": (pipe.task_s / (wall * CORES), "ratio"),
        "pipeline.gc_s": (pipe.gc_s, "s"),
        "pipeline.spill_mb": (pipe.spill_mb, "MB"),
        "pipeline.py_cpu_s": (pipe_sp.py_cpu_s, "s"),
        "pipeline.jobs": (pipe.jobs, "count"),
        "exact.rep_ratio": (counts["signatures"] / counts["identity"], "ratio"),
        "candidates.pairs": (counts["candidates"], "count"),
        "verify.accept_ratio": (counts["accepted"] / max(1, counts["candidates"]), "ratio"),
        "substring.accept_ratio": (counts["substring_hits"] / max(1, counts["needles"]), "ratio"),
    })
    cc, fwall, written = fold
    roll, sp = layers.get("fold.0", empty), span["fold.0"]
    out.update({
        "fold.jobs": (roll.jobs, "count"),
        "fold.task_s": (roll.task_s, "s"),
        "fold.shuffle_mb": (roll.shuffle_mb, "MB"),
        "fold.idle_s": (fwall - roll.busy_s(sp.start, sp.end), "s"),
        "fold.py_cpu_s": (sp.py_cpu_s, "s"),
        "fold.gc_s": (roll.gc_s, "s"),
        "fold.state_mb_written": (written / 2**20, "MB"),
        "fold.n_edges": (cc["n_edges"], "count"),
        "fold.n_touched_clusters": (cc["n_touched_clusters"], "count"),
        "fold.wall_s": (fwall, "s"),
    })
    q_wall = 0.0
    for name in QUERY_NAMES:
        roll, sp = layers.get(f"q.{name}", empty), span[f"q.{name}"]
        q_wall += sp.end - sp.start
        out[f"q.{name}.wall_s"] = (sp.end - sp.start, "s")
        out[f"q.{name}.task_s"] = (roll.task_s, "s")
        out[f"q.{name}.jobs"] = (roll.jobs, "count")
    out["queries.wall_s"] = (q_wall, "s")
    out["trace.op_s"] = (op_wall, "s")
    return out


def _prepare_env(run_dir: Path) -> None:
    sys.path[:0] = [str(ROOT), str(Path(__file__).resolve().parent)]
    # Python workers import the package too; keep every scratch file in the
    # checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    # the IVF queries persist their coarse quantizer under this root
    os.environ["SPARK_GRAFT_CKPT_DIR"] = str(run_dir / "ckpt")
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    # every JVM (the spark-submit launcher and the Spark application) keeps
    # its temp files in the checkout and writes no hsperfdata file
    os.environ["JDK_JAVA_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"


def _stop_jvm() -> None:
    """Close the Py4J gateway and wait for its JVM to exit, so a run leaves no
    process behind and nothing writes to its directory once it is removed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=120)


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if not (ROOT / "cloud_dedup_spark" / "__init__.py").is_file():
        print(f"perfbench: no cloud_dedup_spark package under {ROOT}", file=sys.stderr)
        return 2
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    _prepare_env(bench.run_dir)
    try:
        metrics = bench.run()
    finally:
        if bench.spark is not None:
            bench.spark.stop()
        _stop_jvm()
        shutil.rmtree(bench.run_dir, ignore_errors=True)
    print(json.dumps({"context": bench.context}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
