"""One retrieval builder for every exact and tiered kNN serving query.

Reference: the reference retriever is exact top-k cosine over an
in-memory store (conversadocs/bones.py:74, bones.py:78; k in [1,5] at
app.py:116). Every serving query of the
engine — fp32, SQ8, sign-binary, Matryoshka prefix, metadata-filtered,
single query or query batch — is one pipeline with optional stages:

1. encode the vectors (``FP32``, ``INT8``, ``BINARY``, ``matryoshka``);
2. pre-filter the corpus by an allowed-id set (``allowed``);
3. broadcast the query side, norms hoisted above the fan-out;
4. score (cosine, or Hamming matches for the binary tier);
5. cut a per-query shortlist on the slim (keys, id, score) projection
   (``shortlist``: a ``row_number`` cut, or the tie-aware band);
6. refine the shortlist with exact fp32 cosine;
7. take the top-k;
8. annotate with provenance (``provenance``).

The scale contract lives here, once: **the corpus never hash-shuffles.**
- The query side is the broadcast side of every corpus join: a literal,
  one looked-up row, or a Q-row batch.
- The allowed-id semi-join carries no hint. Catalyst broadcasts it
  from size statistics and falls back to a shuffled semi-join when
  the tenant set itself is huge; a hint would force a driver OOM.
- Apart from that fallback, nothing corpus-sized shuffles. Batch
  windows are keyed on the query id and map-side pruned (Partial
  ``WindowGroupLimit``); MaxSim's aggregates are map-side combined,
  so only doc-count-sized relations move.
- The refine broadcasts the query-bounded shortlist back onto the
  corpus scan: a broadcast hash join that prunes the scan.
- Provenance broadcasts the k-row result, never the documents table.

The top-k shape follows from the query side. One query (an id, or a
literal vector) keeps ``TakeOrderedAndProject``: a per-query window
over a single ``query_id`` would send every scored corpus row to one
task. A query batch ranks in a per-query ``Window``.

Multivector MaxSim shares stages 3 and 7 but aggregates between them,
so it is its own builder, ``maxsim``, rather than a branch of
``serve``.
"""

from __future__ import annotations

import math
from typing import Callable, NamedTuple, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from conversadocs_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    l2_norm,
)
from conversadocs_spark.operators.quant import (
    binarize_sign,
    dequantized,
    hamming_matches,
    quantize_int8,
)


class Encoding(NamedTuple):
    """A storage tier as the scoring pass sees it.

    ``prepare(df, vec_col, out)`` returns ``(df', enc_col)``: ``df``
    with the encoded vector as column ``enc_col`` (the raw column
    itself for fp32). ``col`` names the score column. ``cosine``
    selects cosine scoring (rounded to 6 places) over the encoded
    vectors; otherwise the score is the Hamming match count."""

    prepare: Callable[[DataFrame, str, str], tuple]
    col: str
    cosine: bool = True


FP32 = Encoding(lambda df, vec, out: (df, vec), "sim")
#: SQ8 (operators/quant.py): cosine over the int8-dequantized vectors.
INT8 = Encoding(
    lambda df, vec, out: (
        quantize_int8(df, vec).withColumn(out, dequantized()), out
    ),
    "sim_q",
)
#: Sign bits packed 32 per BIGINT; XOR + POPCNT match count.
BINARY = Encoding(
    lambda df, vec, out: (binarize_sign(df, vec, out), out),
    "matches",
    cosine=False,
)


def matryoshka(dims: int) -> Encoding:
    """Cosine over the first ``dims`` dimensions (Kusupati et al. 2022:
    an MRL-trained prefix is itself a valid embedding)."""
    return Encoding(
        lambda df, vec, out: (
            df.withColumn(out, F.slice(vec, 1, dims)), out
        ),
        "sim_coarse",
    )


#: Tie-aware shortlist: the top-20 DISTINCT scores per query, each
#: plateau kept whole, capped at 4096 rows (see knn_filtered_int8_batch).
BAND = (20, 4096)


def _fan_out(
    cands: DataFrame, queries: DataFrame, vec: Optional[Column] = None
) -> DataFrame:
    """Stage 3: cross the corpus with the broadcast query side. Given
    ``vec``, the corpus norm ``_n`` is computed once per corpus row
    ABOVE the Q-fold fan-out (Catalyst has no CSE across projected
    expressions, so an inlined cosine would recompute it per pair)."""
    if vec is not None:
        cands = cands.withColumn("_n", l2_norm(vec))
    return cands.crossJoin(F.broadcast(queries))


def _top_k(
    df: DataFrame, k: int, by: str, id_col: str, keys: Sequence[str]
) -> DataFrame:
    """Stage 7: best ``k`` by ``by`` desc, ``id_col`` asc per key
    group. No keys (one query): TakeOrderedAndProject. Keys (a batch):
    a per-query window, adding ``rank``."""
    order = (F.desc(by), F.asc(id_col))
    if not keys:
        return df.orderBy(*order).limit(k)
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def _shortlist(
    scored: DataFrame,
    cut: Union[int, tuple],
    by: str,
    id_col: str,
    keys: Sequence[str],
) -> DataFrame:
    """Stage 5. An int is a ``row_number`` cut. ``BAND`` keeps every
    row whose score is among the query's top-``band`` DISTINCT values
    (``dense_rank``), at most ``cap`` rows: a row-count cut (row_number
    or rank(), which counts rows above) cannot reach winners that sit
    behind a deep plateau of quantization ties."""
    if isinstance(cut, int):
        short = _top_k(scored, cut, by, id_col, keys)
        return short.drop("rank") if keys else short
    band, cap = cut
    w = Window.partitionBy(*keys)
    return (
        scored.withColumn(
            "rn", F.row_number().over(w.orderBy(F.desc(by), F.asc(id_col)))
        )
        .withColumn("rk_band", F.dense_rank().over(w.orderBy(F.desc(by))))
        .where((F.col("rk_band") <= band) & (F.col("rn") <= cap))
        .drop("rn", "rk_band")
    )


def with_provenance(
    top: DataFrame, prov: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Stage 8: annotate a top-k result from ``prov`` (keyed on
    ``id_col``). The k-row result is the broadcast side; ``prov`` is
    the unbounded one at scale."""
    return F.broadcast(top).join(prov, id_col).select(
        *top.columns, *[c for c in prov.columns if c != id_col]
    )


def serve(
    corpus: DataFrame,
    query: Union[int, Sequence[float], DataFrame],
    k: int,
    *,
    encoding: Encoding = FP32,
    allowed: Optional[DataFrame] = None,
    shortlist: Union[int, tuple, None] = None,
    provenance: Optional[DataFrame] = None,
    exclude_self: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact (or tiered: shortlist + fp32 refine) top-k retrieval.

    ``query`` is one of:
    - an id: the query row is looked up in the UNfiltered ``corpus``
      (so a query outside its own filter still works) and excluded
      from its own results;
    - a literal vector (fp32): its norm is folded driver-side, the same
      IEEE left fold Catalyst would run per corpus row (higher-order
      functions over literal arrays are not constant-folded);
    - a batch DataFrame of (``query_id_col``, ``query_vec_col``).
      ``exclude_self`` drops corpus rows whose id equals the query's
      id BEFORE ranking, so k still fills.

    Output: [keys,] ``id_col``, the encoding's score column, then
    ``sim`` (refined fp32 cosine) when ``shortlist`` is set, then
    ``rank`` for a batch, then the ``provenance`` columns.
    """
    kept = corpus
    if allowed is not None:
        kept = corpus.join(allowed.select(id_col), id_col, "left_semi")
    cands, enc = encoding.prepare(kept, vec_col, "_enc")
    v = F.col(enc)
    keys: list = []
    carry: list = []
    if isinstance(query, DataFrame):
        keys = [query_id_col]
        qside, qenc = encoding.prepare(query, query_vec_col, "_qvec")
        if encoding.cosine:
            qside = qside.withColumn("_qn", l2_norm(F.col(qenc)))
        pairs = _fan_out(cands, qside, v if encoding.cosine else None)
        if exclude_self:
            pairs = pairs.where(F.col(id_col) != F.col(query_id_col))
        q, n = F.col(qenc), F.col("_n")
        qn = F.col("_qn")
    elif isinstance(query, (list, tuple)):
        q = F.array(*[F.lit(float(x)) for x in query])
        acc = 0.0
        for x in query:
            acc = acc + float(x) * float(x)
        pairs, n, qn = cands, l2_norm(v), F.lit(math.sqrt(acc))
    else:
        src, qenc = encoding.prepare(corpus, vec_col, "_enc")
        picked = [F.col(qenc).alias("_qvec")]
        if encoding.cosine:
            picked.append(l2_norm(F.col(qenc)).alias("_qn"))
        if shortlist is not None:
            picked.append(F.col(vec_col).alias("_qv"))
            carry.append("_qv")
        qside = src.where(F.col(id_col) == query).select(*picked)
        pairs = _fan_out(cands, qside).where(F.col(id_col) != query)
        q, n, qn = F.col("_qvec"), l2_norm(v), F.col("_qn")
    if encoding.cosine:
        score = F.round(dot_product(v, q) / (n * qn), 6)
    else:
        score = hamming_matches(v, q, F.size(vec_col))
    scored = pairs.select(
        *[F.col(c) for c in keys],
        F.col(id_col),
        score.alias(encoding.col),
        *carry,
    )
    by = encoding.col
    if shortlist is not None:
        short = _shortlist(scored, shortlist, by, id_col, keys)
        # stage 6: the query-bounded shortlist broadcasts back onto the
        # corpus scan (a BHJ prune, no corpus exchange); a batch joins
        # its Q-row raw query vectors the same way.
        hits = F.broadcast(short).join(
            corpus.select(id_col, vec_col), id_col
        )
        if keys:
            raw = query.select(
                query_id_col, F.col(query_vec_col).alias("_qv")
            )
            hits = hits.join(F.broadcast(raw), query_id_col)
        scored = hits.select(
            *keys,
            id_col,
            by,
            F.round(
                cosine_similarity(F.col(vec_col), F.col("_qv")), 6
            ).alias("sim"),
        )
        by = "sim"
    top = _top_k(scored, k, by, id_col, keys)
    if provenance is None:
        return top
    return with_provenance(top, provenance, id_col)


def maxsim(
    tokens: DataFrame,
    query_tokens: DataFrame,
    k: int,
    keys: Sequence[str] = (),
) -> DataFrame:
    """ColBERT late interaction (Khattab & Zaharia 2020): score(Q, D) =
    sum over query tokens of the max cosine against any of D's tokens.

    ``tokens``: (doc_id, embedding) corpus token vectors.
    ``query_tokens``: ([keys,] q_tok, query_vec) query token bags.
    Returns ([keys,] doc_id, maxsim), top-``k`` docs per key group.

    Per-token cosines round to 6 BEFORE the max (so any engine picks
    the same argmax) and the sum rounds again. The query bags broadcast
    (stage 3, norms hoisted); both aggregations are map-side
    combinable, so only doc-count-sized relations shuffle, never the
    token table."""
    qside = query_tokens.withColumn("_qn", l2_norm(F.col("query_vec")))
    vec = F.col("embedding")
    pairs = _fan_out(tokens, qside, vec).select(
        *keys,
        "doc_id",
        "q_tok",
        F.round(
            dot_product(vec, F.col("query_vec"))
            / (F.col("_n") * F.col("_qn")),
            6,
        ).alias("s"),
    )
    per_tok = pairs.groupBy(*keys, "doc_id", "q_tok").agg(
        F.max("s").alias("m")
    )
    scores = per_tok.groupBy(*keys, "doc_id").agg(
        F.round(F.sum("m"), 6).alias("maxsim")
    )
    return _top_k(scores, k, "maxsim", "doc_id", keys)
