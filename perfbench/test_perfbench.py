"""Tests for the benchmark's input generators and event-log rollup (no Spark).

Run from the repository root: ``python -m pytest perfbench -q``.
"""

import json
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import inputs  # noqa: E402
from tracing import LayerRollup, Span, Task, rollup  # noqa: E402

from cloud_dedup_spark.corpus import generate_corpus  # noqa: E402

LOG = HERE / "testdata" / "eventlog_small.jsonl"


def _keys(rows):
    return [(r["repo"], r["path"]) for r in rows]


def _canon(clusters):
    return sorted(sorted(c) for c in clusters)


# ---- input generators ------------------------------------------------------

def test_one_block_truth_is_generate_corpus_truth():
    corpus = inputs.fresh_corpus(302, seed=5)
    _, truth = generate_corpus(300, 5 * 100_003)
    expected = [{(r, "b000/" + p) for r, p in c} for c in truth.expected_clusters()]
    assert _canon(corpus.clusters) == _canon(expected)
    assert corpus.shape["files"] == 302 and corpus.shape["null_rows"] == 2


def test_blocks_weld_identical_content_and_keep_keys_unique():
    corpus = inputs.fresh_corpus(500, seed=1, block=200)
    keys = _keys(corpus.rows)
    assert len(keys) == len(set(keys)) == 500
    # every block (200, 200, 98 rows) plants the same three empty files
    empties = [c for c in corpus.clusters if any("placeholder" in p for _, p in c)]
    assert len(empties) == 1 and len(empties[0]) == 3 * 3
    # NULL-content rows are never duplicates of anything
    nulls = {(r["repo"], r["path"]) for r in corpus.rows if r["content"] is None}
    assert nulls and not any(nulls & c for c in corpus.clusters)


def test_same_seed_same_rows():
    a, b = inputs.dupheavy_corpus(600, seed=3), inputs.dupheavy_corpus(600, seed=3)
    assert a.rows == b.rows and _canon(a.clusters) == _canon(b.clusters)


def test_dupheavy_families():
    corpus = inputs.dupheavy_corpus(1000, seed=2, largest=80)
    keys = _keys(corpus.rows)
    assert len(keys) == len(set(keys)) == 1000
    assert corpus.shape["largest_family"] == 81  # base + 80 members
    assert 0.55 <= corpus.shape["dup_share"] <= 0.8


def test_family_sizes_sum_exactly():
    for n in (1, 2, 3, 57, 500, 1000):
        sizes = inputs.family_sizes(n, 160)
        assert sum(sizes) == n and sizes[-1] >= 1
        assert all(s >= 2 for s in sizes[:-1])


def test_fold_deltas_mix():
    base = inputs.fresh_corpus(400, seed=4)
    deltas = list(inputs.fold_deltas(base, 40, 3, seed=4))
    seen = {(r["repo"], r["path"]): r for r in base.rows}
    for d in deltas:
        redelivered = [r for r in d.rows if (r["repo"], r["path"]) in seen]
        assert all(seen[(r["repo"], r["path"])] == r for r in redelivered)
        assert len(d.rows) == 40 and d.n_new == 40 - len(redelivered) == 38
        assert sum(r["content"] is None for r in d.rows) >= 2
        for r in d.rows:
            seen.setdefault((r["repo"], r["path"]), r)
        # the cumulative truth covers every edited copy of a prior file
        edited = [k for k in _keys(d.rows) if "/e0" in k[1]]
        in_truth = set().union(*d.clusters)
        assert edited and all(k in in_truth for k in edited)


def test_pair_scores():
    truth = [{("r", "a"), ("r", "b"), ("r", "c")}]
    assert inputs.pair_scores(truth, truth) == (1.0, 1.0)
    # predicted splits c off (recall 1/3) and welds two singletons (1 FP)
    pred = [{("r", "a"), ("r", "b")}, {("r", "x"), ("r", "y")}]
    assert inputs.pair_scores(pred, truth) == (1 / 3, 1 / 2)
    assert inputs.pair_scores([], []) == (1.0, 1.0)


# ---- event log -------------------------------------------------------------

def test_rollup_recorded_log():
    """A local[2] session: a tagged groupBy job (stage.a), a tagged count
    over 3 partitions (stage.b), then an untagged collect."""
    with open(LOG) as f:
        layers = rollup(f)
    assert set(layers) == {"stage.a", "stage.b", ""}
    assert [layers[k].jobs for k in ("stage.a", "stage.b", "")] == [1, 1, 1]
    assert [len(layers[k].tasks) for k in ("stage.a", "stage.b", "")] == [4, 4, 2]
    events = [json.loads(line) for line in open(LOG)]
    written = sum(
        e["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        for e in events if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] == 0
    )
    assert written > 0
    assert sum(t.shuffle_write for t in layers["stage.a"].tasks) == written
    a = layers["stage.a"]
    start, end = min(t.launch for t in a.tasks), max(t.finish for t in a.tasks)
    assert 0 < a.busy_s(start, end) <= end - start
    assert a.skew() >= 1.0


def test_untagged_job_goes_to_the_outermost_span_holding_it():
    """A job scheduled from a thread of the call's own carries no tag; it
    belongs to the outermost span around its submission, while tagged jobs
    keep their tag."""
    fold = Span("fold.1", 1792208079.7, 1792208080.3, 0.0)
    inner = Span("stage.x", 1792208080.0, 1792208080.2, 0.0)
    with open(LOG) as f:
        layers = rollup(f, [inner, fold])
    assert set(layers) == {"stage.a", "stage.b", "fold.1"}
    assert layers["fold.1"].jobs == 1 and len(layers["fold.1"].tasks) == 2
    # a span that ends before the job was submitted does not claim it
    early = Span("fold.0", 1792208079.7, 1792208080.0, 0.0)
    with open(LOG) as f:
        assert set(rollup(f, [early])) == {"stage.a", "stage.b", ""}


def _task(launch, finish, stage=0):
    return Task(stage, launch, finish, finish - launch, 0, 0, 0, 0)


def test_busy_s_is_the_union_of_task_intervals():
    r = LayerRollup(tasks=[_task(0, 2), _task(1, 3), _task(5, 6), _task(9, 12)])
    assert r.busy_s(0, 10) == 3 + 1 + 1  # [0,3] ∪ [5,6] ∪ [9,10]
    assert LayerRollup().busy_s(0, 10) == 0


def test_skew_uses_the_heaviest_stage():
    r = LayerRollup(tasks=[_task(0, 1, 0), _task(0, 1, 0), _task(0, 4, 0),
                           _task(0, 2, 1), _task(0, 2, 1)])
    assert r.skew() == 4.0  # stage 0 (6 s of tasks) outweighs stage 1 (4 s)


def test_dir_bytes_counts_files_written_since_an_epoch_time(tmp_path):
    import time

    from run import _dir_bytes

    (tmp_path / "old").write_bytes(b"x" * 10)
    os.utime(tmp_path / "old", (1, 1))
    since = time.time() - 1
    (tmp_path / "new").write_bytes(b"y" * 7)
    assert _dir_bytes(tmp_path) == 17
    assert _dir_bytes(tmp_path, since=since) == 7


# ---- query surface ---------------------------------------------------------

def test_query_tables_are_seeded_and_sf_shaped():
    a, b = inputs.query_tables(50, 40, seed=3), inputs.query_tables(50, 40, seed=3)
    assert a == b and a != inputs.query_tables(50, 40, seed=4)
    assert [d["doc_id"] for d in a.documents] == list(range(50))
    assert all(d["n_chars"] == len(d["text"]) for d in a.documents)
    assert all(abs(sum(x * x for x in v["embedding"]) - 1) < 1e-9 for v in a.embeddings)
    assert {len(v["embedding"]) for v in a.embeddings} == {inputs.EMB_DIM}


def test_checker_pins_the_scale_paths_to_the_exact_answer(tmp_path):
    import surface

    tables = inputs.query_tables(60, 60, seed=1)
    surface.land(tables, tmp_path / "sf")
    checker = surface.Checker(tmp_path / "sf", tables)
    cols, exact = checker.oracle("emb_near_pairs")
    assert exact and checker.ok("emb_near_pairs", cols, exact)
    pairs = ["id_a", "id_b", "score"]
    exact = [tuple(dict(zip(cols, r))[c] for c in pairs) for r in exact]
    assert checker.ok("emb_near_pairs_lsh", pairs, exact)
    assert not checker.ok("emb_near_pairs_lsh", pairs, exact[: len(exact) // 2])
    assert not checker.ok("emb_near_pairs_ivf", pairs, exact + [(0, 59, 0.1)])
    cols, topk = checker.oracle("ann_topk")
    assert checker.ok("ann_topk_ivf", cols, topk)
    assert checker.ok("lsh_ann_topk", cols, topk)
    wrong = [r[:-1] + (r[-1] + 0.01,) for r in topk]
    assert not checker.ok("lsh_ann_topk", cols, wrong)
