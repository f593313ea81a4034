"""Top-k cosine similarity search — the reference's core query.

Reference: ``db.as_retriever(search_type="similarity", search_kwargs=
{"k": k})`` over an in-memory exact store
(/root/reference/conversadocs/bones.py:74, bones.py:78) — embed the
query, exact cosine against ALL vectors, keep the k best (k in [1,5],
default 3; /root/reference/app.py:116).

These are the stable entry points of the fp32 tier; each is one call
of the shared builder (operators/serve.py), which owns the plan shape:
a single query streams the corpus once into a TakeOrderedAndProject
(constant-memory reducer, no shuffle of the data), a query batch
broadcasts the query side into a per-query window top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from conversadocs_spark.operators.serve import serve


def knn_topk(
    vectors: DataFrame,
    query_vec: list[float],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.

    Returns (id_col, sim) with sim rounded to 6 decimals
    (oracle float rule) and deterministic tie-break on id."""
    return serve(
        vectors, list(query_vec), k, id_col=id_col, vec_col=vec_col
    )


def knn_self(
    vectors: DataFrame,
    query_id: int,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbours of one row of the table itself (query-by-id),
    the row itself excluded."""
    return serve(vectors, query_id, k, id_col=id_col, vec_col=vec_col)


def knn_per_query(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    exclude_self: bool = False,
) -> DataFrame:
    """Exact top-k per query for a BATCH of query vectors:
    (query_id_col, id_col, sim, rank).

    ``exclude_self=True`` drops corpus rows whose id equals the
    query's id BEFORE the rank window (so k still fills) — the same
    contract ivf_search / ivfpq_topk apply unconditionally. The
    planner dispatches (operators/planner.py) set it so the physical
    strategy choice can never change results for callers whose query
    ids overlap corpus ids; the default stays False for the plain
    disjoint-id retrieval queries whose oracles do not exclude.
    At scale, swap the crossJoin for an LSH bucket join
    (operators/lsh.py) when Q×N is too large — same downstream shape.
    """
    return serve(
        vectors,
        queries,
        k,
        exclude_self=exclude_self,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    )


def knn_filtered(
    vectors: DataFrame,
    allowed_ids: DataFrame,
    query_id: int,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Metadata-FILTERED top-k: neighbours of ``query_id`` restricted
    to ids present in ``allowed_ids`` (single column named ``id_col``).

    This is the "filtered vector search" production shape (the
    reference's retriever has no filter arg — bones.py:74 retrieves
    over the whole store — but any multi-tenant / language-scoped
    deployment of it needs one). PRE-filter: the allowed-id set
    semi-joins into the corpus BEFORE any similarity is computed, so
    top-k is exact over the filtered corpus at any selectivity and never
    under-filled. A post-filtered ANN (fetch, then discard) silently
    returns < k rows under a selective predicate; it is deliberately
    not shipped. The query row is looked up from the UNfiltered table,
    so a query outside its own filter still works.
    """
    return serve(
        vectors,
        query_id,
        k,
        allowed=allowed_ids,
        id_col=id_col,
        vec_col=vec_col,
    )
