"""Seeded, truth-aware inputs for the benchmark workloads.

Every generator takes the seed as an argument and returns plain rows plus the
planted truth; the program under test only ever sees the rows.

* ``fresh_corpus``: ``generate_corpus`` blocks with block-prefixed keys,
  plus a few NULL-content rows.  Truth is each block's planted clusters,
  unioned with identical content across blocks (every block plants the same
  empty files, so those weld into one cross-block cluster).
* ``dupheavy_corpus``: half fresh blocks, half duplicate families whose
  sizes follow a fixed Zipf ladder with a tail past ``band_bucket_cap``.
  Family members are exact copies or ε-edited copies of one base file.
* ``fold_deltas``: a sequence of small deltas against a base corpus, mixing
  ε-edited copies of prior files, exact re-copies, fresh files, NULL-content
  rows and re-delivered rows (the idempotency guard's input).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from cloud_dedup_spark.corpus import REPOS, _near_edit, generate_corpus, sha256_hex

Key = tuple[str, str]

FILE_COLUMNS = ("repo", "path", "commit", "lang", "content", "content_sha256")


class _UnionFind:
    def __init__(self) -> None:
        self.parent: dict[Key, Key] = {}

    def find(self, k: Key) -> Key:
        self.parent.setdefault(k, k)
        while self.parent[k] != k:
            self.parent[k] = self.parent[self.parent[k]]
            k = self.parent[k]
        return k

    def union(self, a: Key, b: Key) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[rb] = ra


def truth_clusters(rows: list[dict], planted: list[set[Key]]) -> list[set[Key]]:
    """Planted clusters unioned with every group of identical non-NULL content."""
    uf = _UnionFind()
    for group in planted:
        first, *rest = sorted(group)
        for k in rest:
            uf.union(first, k)
    by_sha: dict[str, Key] = {}
    for r in rows:
        if r["content"] is None:
            continue
        k = (r["repo"], r["path"])
        seen = by_sha.setdefault(r["content_sha256"], k)
        if seen != k:
            uf.union(seen, k)
    out: dict[Key, set[Key]] = {}
    for k in list(uf.parent):
        out.setdefault(uf.find(k), set()).add(k)
    return [m for m in out.values() if len(m) >= 2]


def pair_scores(
    predicted: list[set[Key]], truth: list[set[Key]]
) -> tuple[float, float]:
    """(recall, precision) of the dup pairs implied by two clusterings.

    Counted from cluster intersections, so families of a few hundred files
    cost no pair enumeration.  With no pairs on one side the matching score
    is 1.0 (nothing to find, or nothing claimed)."""
    owner = {k: i for i, c in enumerate(truth) for k in c}
    tp = 0
    for c in predicted:
        inter: dict[int, int] = {}
        for k in c:
            if k in owner:
                inter[owner[k]] = inter.get(owner[k], 0) + 1
        tp += sum(m * (m - 1) // 2 for m in inter.values())
    n_true = sum(len(c) * (len(c) - 1) // 2 for c in truth)
    n_pred = sum(len(c) * (len(c) - 1) // 2 for c in predicted)
    return (tp / n_true if n_true else 1.0, tp / n_pred if n_pred else 1.0)


@dataclass
class Corpus:
    rows: list[dict]
    clusters: list[set[Key]]
    shape: dict = field(default_factory=dict)


def _file_row(repo: str, path: str, commit: str, content: str | None) -> dict:
    return {
        "repo": repo,
        "path": path,
        "commit": commit,
        "lang": path.rsplit(".", 1)[-1],
        "content": content,
        "content_sha256": None if content is None else sha256_hex(content),
    }


def _blocks(
    n_files: int, seed: int, prefix: str, block: int
) -> tuple[list[dict], list[set[Key]], list[Key]]:
    """Exactly ``n_files`` rows of ``generate_corpus`` blocks, with
    ``<prefix><b>/`` path prefixes.

    Returns rows, planted clusters and the keys of the unique filler files
    (safe bases for new duplicate relations).  A tail shorter than 64 rows
    joins the previous block: ``generate_corpus`` plants ~30 rows whatever
    its size and is exact only from 64 rows up."""
    sizes = [block] * (n_files // block)
    tail = n_files - block * len(sizes)
    if sizes and tail < 64:
        sizes[-1] += tail
    elif tail:
        sizes.append(max(64, tail))
    rows: list[dict] = []
    planted: list[set[Key]] = []
    unique: list[Key] = []
    for b, n in enumerate(sizes):
        pre = f"{prefix}{b:03d}/"
        got, truth = generate_corpus(n, seed * 100_003 + b)
        for r in got:
            r["path"] = pre + r["path"]
        rows += got
        planted += [{(r, pre + p) for r, p in c} for c in truth.expected_clusters()]
        unique += [(r, pre + p) for r, p in truth.unique_keys]
    return rows, planted, unique


def _null_rows(n: int, rng: random.Random, prefix: str) -> list[dict]:
    return [
        _file_row(rng.choice(REPOS), f"{prefix}/unreadable_{i}.py",
                  f"{rng.getrandbits(64):016x}", None)
        for i in range(n)
    ]


def _shape(rows: list[dict], clusters: list[set[Key]], **extra) -> dict:
    in_dups = sum(len(c) for c in clusters)
    return {
        "files": len(rows),
        "dup_share": round(in_dups / max(1, len(rows)), 3),
        "largest_family": max((len(c) for c in clusters), default=0),
        "null_rows": sum(r["content"] is None for r in rows),
        **extra,
    }


def _fresh(n_files: int, seed: int, block: int):
    n_null = max(2, n_files // 250)
    rows, planted, unique = _blocks(n_files - n_null, seed, "b", block)
    rows += _null_rows(n_null, random.Random(seed), "nullrows")
    return rows, planted, unique


def fresh_corpus(n_files: int, seed: int, block: int = 1000) -> Corpus:
    """Mostly unique files: ``generate_corpus`` blocks plus 0.4% NULL-content
    rows (at least 2)."""
    rows, planted, _ = _fresh(n_files, seed, block)
    clusters = truth_clusters(rows, planted)
    return Corpus(rows, clusters, _shape(rows, clusters))


def family_sizes(n_members: int, largest: int) -> list[int]:
    """Zipf ladder of family sizes (k-th family ≈ largest / k, at least 2;
    the last takes the remainder) whose sum is exactly ``n_members``.  Fixed
    for a size, so the timing of the hot-bucket path does not depend on the
    seed."""
    sizes: list[int] = []
    while sum(sizes) < n_members:
        sizes.append(max(2, round(largest / (len(sizes) + 1))))
    sizes[-1] -= sum(sizes) - n_members  # the last family takes the remainder
    return sizes


def dupheavy_corpus(
    n_files: int, seed: int, block: int = 1000, largest: int = 160
) -> Corpus:
    """Half fresh blocks, half duplicate families of exact and ε-edited copies.

    Family ``f`` has ``family_sizes(...)[f]`` members besides its base, a
    unique filler file of the fresh half, so families never overlap other
    plants.  Each member is an exact copy (new repo and path) or an ε-edit of
    the base, half and half."""
    rng = random.Random(seed ^ 0x5EED)
    rows, planted, unique = _fresh(n_files // 2, seed, block)
    by_key = {(r["repo"], r["path"]): r for r in rows}
    sizes = family_sizes(n_files - len(rows), largest)
    for f, (size, bkey) in enumerate(zip(sizes, rng.sample(unique, len(sizes)))):
        src = by_key[bkey]
        fam = {bkey}
        for j in range(size):
            content = src["content"] if rng.random() < 0.5 else _near_edit(src["content"], rng)
            path = f"fam{f:03d}/m{j:03d}/" + src["path"].split("/", 1)[1]
            r = _file_row(rng.choice(REPOS), path, f"{rng.getrandbits(64):016x}", content)
            rows.append(r)
            fam.add((r["repo"], r["path"]))
        planted.append(fam)
    clusters = truth_clusters(rows, planted)
    return Corpus(rows, clusters, _shape(rows, clusters, families=len(sizes)))


@dataclass
class Delta:
    rows: list[dict]
    n_new: int  # rows whose natural key the state has not seen
    clusters: list[set[Key]]  # truth over the base and every delta so far


DELTA_MIX = {"edited": 0.4, "copied": 0.2, "redelivered": 0.05, "null_rows": 2}


def fold_deltas(base: Corpus, n_delta: int, n_folds: int, seed: int):
    """Yield ``n_folds`` deltas of ``n_delta`` rows each (``DELTA_MIX``).

    Per delta: 40% ε-edited copies of prior files (they touch prior clusters
    and singletons), 20% exact re-copies, 2 NULL-content rows, 5% re-delivered
    rows (exact repeats of a prior row, which the fold's idempotency guard
    must drop) and fresh ``generate_corpus`` files for the rest."""
    rng = random.Random(seed ^ 0xF01D)
    state = list(base.rows)
    planted = [set(c) for c in base.clusters]
    n_edit, n_copy = int(n_delta * DELTA_MIX["edited"]), int(n_delta * DELTA_MIX["copied"])
    n_redeliver = max(1, int(n_delta * DELTA_MIX["redelivered"]))
    n_null = DELTA_MIX["null_rows"]
    n_fresh = n_delta - n_edit - n_copy - n_redeliver - n_null
    for d in range(n_folds):
        new: list[dict] = []
        with_content = [r for r in state if r["content"]]
        for i in range(n_edit + n_copy):
            src = rng.choice(with_content)
            edit = i < n_edit
            content = _near_edit(src["content"], rng) if edit else src["content"]
            path = f"d{d:02d}/{'e' if edit else 'c'}{i:04d}/" + src["path"]
            r = _file_row(rng.choice(REPOS), path, f"{rng.getrandbits(64):016x}", content)
            new.append(r)
            if edit:
                planted.append({(src["repo"], src["path"]), (r["repo"], r["path"])})
        fresh, fresh_planted, _ = _blocks(max(64, n_fresh), seed * 7919 + d, f"d{d:02d}f", 1000)
        fresh = fresh[:n_fresh]
        keys = {(r["repo"], r["path"]) for r in fresh}
        planted += [c & keys for c in fresh_planted if len(c & keys) >= 2]
        new += fresh + _null_rows(n_null, rng, f"d{d:02d}null")
        rows = new + [dict(r) for r in rng.sample(state, n_redeliver)]
        rng.shuffle(rows)
        state += new
        yield Delta(rows, len(new), truth_clusters(state, planted))


# the shape of the sf test tables (TESTDATA.md): word texts over a 30-word vocabulary, a few
# trailing "dup" tokens, 20 sources, 64-dim unit embeddings in 10 labels
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
DOC_LANGS = ("en",) * 3 + ("de", "es", "fr", "zh")
EMB_DIM, EMB_LABELS = 64, 10


@dataclass
class QueryTables:
    documents: list[dict]  # doc_id, text, lang, source, n_chars
    embeddings: list[dict]  # vec_id, embedding (unit norm), label


def query_tables(n_docs: int, n_vecs: int, seed: int) -> QueryTables:
    rng = random.Random(seed ^ 0xD0C5)
    docs = []
    for i in range(n_docs):
        words = rng.choices(VOCAB, k=rng.randint(10, 99))
        if rng.random() < 0.05:
            words += ["dup"] * rng.randint(1, 2)
        text = " ".join(words)
        docs.append({"doc_id": i, "text": text, "lang": rng.choice(DOC_LANGS),
                     "source": f"src{rng.randrange(20)}", "n_chars": len(text)})
    centres = [[rng.gauss(0, 1) for _ in range(EMB_DIM)] for _ in range(EMB_LABELS)]
    vecs = []
    for i in range(n_vecs):
        label = rng.randrange(EMB_LABELS)
        v = [rng.gauss(0, 1) + 0.15 * c for c in centres[label]]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append({"vec_id": i, "embedding": [x / norm for x in v], "label": label})
    return QueryTables(docs, vecs)
