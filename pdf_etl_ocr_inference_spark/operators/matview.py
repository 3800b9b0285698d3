"""Materialized views with automatic query rewrite — the warehouse
"aggregate navigator" (Oracle MV rewrite, BigQuery/Redshift
auto-rewrite), engine-native.

A view is a parquet-materialized result registered under a **semantic
fingerprint** of its defining query (``result_cache.plan_fingerprint``:
Catalyst's canonicalized plan + semanticHash + the base table's file
inventory with sizes/mtimes).  ``matview_rewrite`` answers any
DataFrame whose fingerprint matches a registered view from the view's
storage instead of the base table — spelling-invariant (DataFrame API
vs SQL, alias names erased by canonicalization) and **stale-serving
impossible by construction**: rewriting the base table changes the
file inventory, so an unrefreshed view's fingerprint no longer
matches and the query silently falls through to the base plan
(correct, just unaccelerated).

Freshness is restored INCREMENTALLY: ``refresh_materialized_view``
folds a change-feed commit into the stored aggregate via the IVM
signed-delta merge (``streaming.ivm`` — cost ∝ change volume, no base
rescan) and re-stamps the fingerprint from the post-change base.  The
division of labor vs. the sibling modules:

- ``result_cache``: ad-hoc queries, invalidate-on-change;
- ``streaming/ivm.py``: the delta algebra, no query matching;
- here: registered views, REFRESH-on-change + automatic rewrite —
  the piece that lets a dashboard query hit maintained state without
  knowing the view exists (same philosophy as the LSH/BM25 rewrites
  in ``optimizer.py``: declare the naive plan, the engine routes it).

Scale shape: matching is driver-side metadata work; a hit turns a
full scan + shuffle into one read of a group-cardinality-sized
parquet; a refresh is the IVM merge.  At 100 TB that is the
difference between re-aggregating the corpus per dashboard load and
reading kilobytes.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from pdf_etl_ocr_inference_spark.operators.result_cache import (
    plan_fingerprint,
)
from pdf_etl_ocr_inference_spark.scratch import (
    atomic_write_json,
    replace_dir,
    restore_dir,
)


def _mv_root(root: str | None) -> str:
    if root:
        return root
    from pdf_etl_ocr_inference_spark.scratch import scratch_root

    return os.path.join(scratch_root(), "matview")


# The view's meta lives inside its data directory (hidden from Spark
# by its leading ``_``), so one ``replace_dir`` publishes rows and meta
# together: a crash leaves the old view or the new, and a refresh
# retried after one folds its change once.
_META = "_meta.json"


def _data(entry: str) -> str:
    return os.path.join(entry, "data")


def _meta_path(entry: str) -> str:
    return os.path.join(_data(entry), _META)


def _publish(entry: str, df: DataFrame, meta: dict) -> None:
    def stage(tmp):
        df.write.parquet(tmp)
        atomic_write_json(os.path.join(tmp, _META), meta)

    replace_dir(_data(entry), stage)


def create_materialized_view(
    spark: SparkSession,
    defining_df: DataFrame,
    key: str,
    root: str | None = None,
) -> str:
    """Materialize ``defining_df`` and register it for rewrite under
    ``key``.  Returns the view's directory."""
    entry = os.path.join(_mv_root(root), key)
    _publish(
        entry,
        defining_df,
        {
            "key": key,
            "fingerprint": plan_fingerprint(defining_df),
            "columns": defining_df.columns,
        },
    )
    return entry


def refresh_materialized_view(
    spark: SparkSession,
    key: str,
    defining_df: DataFrame,
    changes: DataFrame,
    keys: list[str],
    sum_cols: dict[str, str],
    count_col: str = "n_rows",
    root: str | None = None,
) -> str:
    """Fold one change-feed commit into the stored aggregate (signed
    IVM delta — no base rescan) and re-stamp the fingerprint from
    ``defining_df`` built over the POST-change base, restoring rewrite
    eligibility.  The view must have been created with the
    ``agg_delta``-maintainable shape (group keys + COUNT + SUMs)."""
    from pdf_etl_ocr_inference_spark.streaming.ivm import (
        agg_delta,
        merge_delta,
    )

    entry = os.path.join(_mv_root(root), key)
    restore_dir(_data(entry))
    if not os.path.exists(_meta_path(entry)):
        raise ValueError(f"no materialized view at {entry!r}")
    with open(_meta_path(entry)) as f:
        meta = json.load(f)
    base = spark.read.parquet(_data(entry))
    delta = agg_delta(changes, keys=keys, sum_cols=sum_cols, count_col=count_col)
    merged = merge_delta(
        base, delta, keys=keys, value_cols=list(sum_cols), count_col=count_col
    ).select(*meta["columns"])
    # merged reads the current data dir; _publish writes it to the
    # staged copy before the swap
    meta["fingerprint"] = plan_fingerprint(defining_df)
    _publish(entry, merged, meta)
    return entry


def matview_rewrite(
    df: DataFrame, root: str | None = None
) -> DataFrame:
    """Return ``df`` answered from a registered materialized view when
    one's fingerprint matches its canonical plan + base file state;
    otherwise return ``df`` unchanged (object-identical — the guard
    rail contract of the other engine rewrites).

    Output columns are renamed positionally to the query's own names:
    canonical-plan equality guarantees arity and order, while alias
    spellings may differ between the query and the view definition.
    """
    mv_root = _mv_root(root)
    if not os.path.isdir(mv_root):
        return df
    try:
        fp = plan_fingerprint(df)
    except Exception:
        return df
    for key in sorted(os.listdir(mv_root)):
        entry = os.path.join(mv_root, key)
        if not os.path.exists(_meta_path(entry)):
            continue
        with open(_meta_path(entry)) as f:
            meta = json.load(f)
        if meta.get("fingerprint") == fp:
            served = df.sparkSession.read.parquet(_data(entry))
            return served.toDF(*df.columns)
    return df
