"""Independent answers the workloads' outputs are checked against.

- Retrieval: NumPy exact cosine top-k over the generated embeddings,
  with Spark's rounding (HALF_UP on the double's shortest decimal
  form, 6 places) and ties broken by id.
- Registry jobs: the job's DuckDB oracle SQL over the same parquet
  files, compared order-insensitively with floats rounded to 6 places.
  Runs whose output is not collected are checked by ``digest``: an
  order-insensitive fingerprint Spark computes while the action runs,
  equal to that of a collected and oracle-checked run.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

SIM_TOL = 1e-6 + 1e-12
_Q6 = Decimal("0.000001")


def spark_round6(x: float) -> float:
    return float(Decimal(repr(float(x))).quantize(_Q6, rounding=ROUND_HALF_UP))


def cosine_left_fold(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Cosine of every row of ``mat`` with ``q``, each sum a left fold
    over the dimensions in double precision, the order Spark's
    ``aggregate`` evaluates it in."""
    m = mat.astype(np.float64)
    qd = np.asarray(q, dtype=np.float64)
    dot = np.zeros(len(m))
    nn = np.zeros(len(m))
    for i in range(m.shape[1]):
        dot = dot + m[:, i] * qd[i]
        nn = nn + m[:, i] * m[:, i]
    qn = 0.0
    for x in qd:
        qn = qn + x * x
    return dot / (np.sqrt(nn) * math.sqrt(qn))


def exact_topk(
    ids: np.ndarray, mat: np.ndarray, q, k: int
) -> list[tuple[int, float]]:
    """[(id, sim)] best first: sim rounded as Spark does, ties by id."""
    sims = cosine_left_fold(mat, q)
    # rounding can only merge neighbours, so a margin past k suffices
    cand = np.argsort(-sims, kind="stable")[: k + 32]
    scored = sorted(
        ((spark_round6(sims[i]), int(ids[i])) for i in cand),
        key=lambda t: (-t[0], t[1]),
    )
    return [(i, s) for s, i in scored[:k]]


def same_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    return len(got) == len(want) and all(
        gi == wi and abs(gs - ws) <= SIM_TOL
        for (gi, gs), (wi, ws) in zip(got, want)
    )


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def normalize(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, cells normalised, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return [cols[i] for i in order], out


def duckdb_oracle(sql: str, data_dir: str, tables) -> tuple[list[str], list[tuple]]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )
        cur = con.execute(sql)
        return normalize([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()


def _shingles(text: str) -> frozenset:
    """Word 3-grams of ``text`` split on single spaces, as the dedup
    oracles' SQL builds them (the whole text when under 3 words)."""
    w = text.split(" ")
    if len(w) < 3:
        return frozenset([text])
    return frozenset(" ".join(w[i:i + 3]) for i in range(len(w) - 2))


def jaccard_pairs(ids, texts, threshold: float = 0.5) -> list[tuple[int, int, float]]:
    """Every (id1 < id2, jaccard) pair at or above ``threshold``: the
    semantics of the dedup_minhash oracle, with candidates from an
    inverted shingle index instead of an all-pairs join."""
    sh = {int(i): _shingles(t) for i, t in zip(ids, texts)}
    index: dict[str, list[int]] = {}
    for i, s in sh.items():
        for g in s:
            index.setdefault(g, []).append(i)
    cand = {
        (a, b)
        for members in index.values()
        for x, a in enumerate(members)
        for b in members[x + 1:]
    }
    out = []
    for a, b in cand:
        a, b = min(a, b), max(a, b)
        j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if j >= threshold:
            out.append((a, b, j))
    return out


def dedup_minhash_rows(ids, texts) -> tuple[list[str], list[tuple]]:
    return normalize(
        ["id1", "id2", "jaccard_sim"],
        [(a, b, round(j, 6)) for a, b, j in jaccard_pairs(ids, texts)],
    )


def dedup_clusters_rows(ids, texts) -> tuple[list[str], list[tuple]]:
    """Connected components of the near-dup pair graph: every node's
    cluster is its component's minimum id (the dedup_clusters oracle)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in jaccard_pairs(ids, texts):
        for x in (a, b):
            parent.setdefault(x, x)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    rows = [(x, find(x), x == find(x)) for x in parent]
    return normalize(["doc_id", "cluster_id", "is_survivor"], rows)


#: registry jobs whose DuckDB oracle is an all-pairs join (tens of
#: seconds at 500 documents): checked against the exact replays above
PAIRWISE = {"dedup_minhash": dedup_minhash_rows, "dedup_clusters": dedup_clusters_rows}


def digest(df, obs):
    """``df`` observed by ``obs`` with an order-insensitive fingerprint
    of its rows: the row count, the sum of a 32-bit hash and the XOR of
    a 64-bit hash. Floats are rounded to 6 places first, so that a sum
    taken in another order does not change it. Read it with
    ``obs.get`` once an action on the returned frame has run."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType, FloatType

    def cell(f):
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (DoubleType, FloatType)):
            return F.round(c, 6)
        if isinstance(f.dataType, ArrayType) and isinstance(
            f.dataType.elementType, (DoubleType, FloatType)
        ):
            return F.transform(c, lambda x: F.round(x, 6))
        return c

    cols = [cell(f) for f in df.schema.fields]
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.hash(*cols).cast("long")).alias("hash32_sum"),
        F.bit_xor(F.xxhash64(*cols)).alias("hash64_xor"),
    )
