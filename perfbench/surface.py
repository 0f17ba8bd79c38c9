"""The query surface: the declared queries that reach a dedup layer.

The 14 ``__spark_entry__.queries()`` builders below call into
``operators.similarity``, ``ivf``, ``multimodal``, ``documents``,
``contamination`` and ``substring``, layers the pipeline never calls.  They
run on ``documents`` and ``embeddings`` tables generated from the seed
(``inputs.query_tables``) and landed as parquet in the run's directory.

Every query is checked: against its ``oracle_sql()`` DuckDB twin where one
exists, else against the pins the test suite holds its scale path to, taken
against the DuckDB answer of its exact twin (a subset of the exact near pairs
with a recall floor, recall@3 against the exact top-k, exact scores).
"""

from __future__ import annotations

import math
from pathlib import Path

QUERIES = (
    "ann_topk", "emb_near_pairs", "emb_near_pairs_lsh", "lsh_ann_topk",
    "emb_near_pairs_ivf", "ann_topk_ivf", "media_dup_groups", "media_near_pairs",
    "ngram_jaccard_pairs", "contaminated_docs", "substring_doc_pairs",
    "exact_text_dupes", "prefix_fp_groups", "dedup_keepers_quality",
)
# recall floors of the scale paths against their exact twin: the near-pair
# pins of tests/test_similarity.py.  That file pins IVF recall@3 at 0.9 on
# its own clustered fixture; on these tables (and the sf test tables,
# whose shape they copy) 30 queries give recall@3 of 0.83-0.97, so the
# floor here is 0.75, far above a broken probe's.
PAIR_RECALL = {"emb_near_pairs_lsh": 0.95, "emb_near_pairs_ivf": 0.5}
TOPK_RECALL = 0.75  # ann_topk_ivf recall@3
MEDIA_THRESHOLD = 0.999  # media_near_pairs' cosine threshold
SCORE_TOL = 1e-4  # scores come rounded to 4 decimals


def land(tables, sf_dir: Path) -> None:
    """Write the tables in the sf test tables' layout: ``<table>.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf_dir.mkdir(parents=True)
    docs = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                      ("source", pa.string()), ("n_chars", pa.int64())])
    emb = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                     ("label", pa.int32())])
    pq.write_table(pa.Table.from_pylist(tables.documents, docs), sf_dir / "documents.parquet")
    pq.write_table(pa.Table.from_pylist(tables.embeddings, emb), sf_dir / "embeddings.parquet")


def _canon(cols, rows) -> list[str]:
    """Columns sorted by name, floats to 6 significant digits, rows sorted."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x01".join(f"{r[i]:.6g}" if isinstance(r[i], float) else str(r[i])
                              for i in idx) for r in rows)


class Checker:
    """DuckDB over the same parquet files, plus the vectors for exact scores."""

    def __init__(self, sf_dir: Path, tables) -> None:
        import duckdb

        import __spark_entry__

        self.con = duckdb.connect()
        for t in ("documents", "embeddings"):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir / t}.parquet'")
        self.sql = {k: v for k, v in __spark_entry__.oracle_sql().items() if k in QUERIES}
        self.vecs = {r["vec_id"]: r["embedding"] for r in tables.embeddings}
        self._oracle: dict = {}

    def oracle(self, name: str) -> tuple[list[str], list[tuple]]:
        if name not in self._oracle:
            cur = self.con.execute(self.sql[name])
            self._oracle[name] = ([d[0] for d in cur.description], cur.fetchall())
        return self._oracle[name]

    def _cos(self, a: int, b: int) -> float:
        va, vb = self.vecs[a], self.vecs[b]
        dot = sum(x * y for x, y in zip(va, vb))
        return dot / math.sqrt(sum(x * x for x in va) * sum(y * y for y in vb))

    def ok(self, name: str, cols: list[str], rows: list[tuple]) -> bool:
        """Whether ``rows`` over ``cols`` are a correct answer to ``name``."""
        if name in self.sql:
            want_cols, want = self.oracle(name)
            return sorted(cols) == sorted(want_cols) and \
                _canon(cols, rows) == _canon(want_cols, want)
        rows = [dict(zip(cols, r)) for r in rows]
        if name in PAIR_RECALL:
            cols, exact = self.oracle("emb_near_pairs")
            exact = {(r[cols.index("id_a")], r[cols.index("id_b")]) for r in exact}
            got = {(r["id_a"], r["id_b"]) for r in rows}
            return got <= exact and len(got) >= PAIR_RECALL[name] * len(exact)
        if name == "ann_topk_ivf":
            cols, exact = self.oracle("ann_topk")
            exact = {(r[cols.index("query_id")], r[cols.index("neighbor_id")]) for r in exact}
            got = {(r["query_id"], r["neighbor_id"]) for r in rows}
            return len(got & exact) >= TOPK_RECALL * len(exact)
        if name == "lsh_ann_topk":
            per_query: dict = {}
            for r in rows:
                per_query[r["query_id"]] = per_query.get(r["query_id"], 0) + 1
            return bool(rows) and max(per_query.values()) <= 3 and all(
                abs(r["score"] - self._cos(r["query_id"], r["neighbor_id"])) <= SCORE_TOL
                for r in rows)
        if name == "media_near_pairs":
            # byte-identical media always share a bucket: every pair inside an
            # exact media group is found, and nothing below the threshold is
            cols, groups = self.oracle("media_dup_groups")
            n_exact = sum(math.comb(g[cols.index("n_media")], 2) for g in groups)
            return len(rows) >= n_exact and all(r["score"] >= MEDIA_THRESHOLD for r in rows)
        raise KeyError(name)
