"""Operator modules. Importing this package registers every query.

Module map (SURVEY.md §2 Part B):
- pricing        §B.4 flagship hash aggregate (M0)
- projection     §B.2 project / filter / predicates / distinct
- joins          §B.3 all join kinds incl. broadcast, semi/anti, range, as-of
- aggregates     §B.4 distinct/approx/statistical/rollup/cube/pivot/collect
- windows        §B.5 ranking / analytic / frames
- sortlimit      §B.6 sorts, limits, top-k (global and per-group)
- setops         §B.7 union / intersect / except
- scalars        §B.8 string / date / math scalar surface
- semistructured §B.8 array / map / json / struct / hash functions
- tpch_suite     §B.3/§B.4 deep TPC-H-pattern coverage (q4/q6/q13/…/q22)
- udfs           §B.10 pandas UDF / applyInPandas / mapInPandas surface
- dedup          §B.11 exact + MinHash-LSH + SimHash + n-gram Jaccard dedup
- similarity     §B.11 cosine top-k / LSH ANN over embeddings
- exact          the scaled-int64 dot every embedding operator shares
- embeddings_eval §B.11 compression evals: binary-quantize + MRL recall
- retrieval      §B.11 hybrid search: RRF fusion, TF-IDF similarity join
- textanalysis   §B.11 lang-id, quality scoring, tokens, fingerprinting
- multimodal     §B.11 binary-column plumbing (decode stubbed per mandate)
- pysource       §B.1 custom Python DataSource connector seam
- privacy        §B.11 k-anonymity audit + generalization ladder (r10)
"""

from . import (  # noqa: F401
    aggregates,
    analytics,
    dedup,
    embeddings_eval,
    ingestion,
    joins,
    layouts,
    ml_lsh,
    multimodal,
    pricing,
    privacy,
    projection,
    pysource,
    retrieval,
    scalars,
    semistructured,
    setops,
    similarity,
    skew,
    sortlimit,
    subqueries,
    textanalysis,
    timeseries,
    tpch_suite,
    udfs,
    windows,
)
