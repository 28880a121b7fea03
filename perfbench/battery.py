"""The ``query_battery`` workload: ``bench.HEADLINE`` queries from
``__spark_entry__.queries()``, each written to a noop sink, run in
sequence in a seed-shuffled order.

The set is one query for each of five of the seven size-dispatch fast
paths (``dedup._shingle_pair_counts``, ``dedup.near_dup_components``,
``graph.host_rank``, ``graph.label_communities``,
``curation.substring_spans``): the heaviest ``functions/`` kernels, and
few enough that a check pass and several timed passes fit one
benchmark run.
``graph.hits_scores`` and ``graph.trust_rank`` repeat ``host_rank``'s
dispatch idiom and are left out for run time.
"""

from __future__ import annotations

# query -> the functions/ module whose operator it returns
QUERIES = {
    "dedup_ngram_jaccard": "dedup",
    "dedup_components": "dedup",
    "host_rank": "graph",
    "host_communities": "graph",
    "substring_dedup": "curation",
}


def digest_exprs(df) -> list:
    """Aggregates giving a query result's row count and order-insensitive
    digest (128-bit sum of ``xxhash64`` over the row). Floating-point values
    are rounded to 6 decimals first, so a summation order change in the
    last bits does not read as a wrong answer."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    canon = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        t = f.dataType
        if isinstance(t, (T.DoubleType, T.FloatType)):
            c = F.round(c, 6)
        elif isinstance(t, T.ArrayType) and isinstance(
            t.elementType, (T.DoubleType, T.FloatType)
        ):
            c = F.transform(c, lambda x: F.round(x, 6))
        elif isinstance(t, T.MapType):
            c = F.to_json(F.array_sort(F.map_entries(c)))
        elif isinstance(t, (T.ArrayType, T.StructType)):
            c = F.to_json(c)
        canon.append(c)
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*canon).cast("decimal(38,0)")).alias("digest"),
    ]


def digest_value(observed: dict) -> dict:
    return {"rows": int(observed["rows"]), "digest": str(observed["digest"])}
