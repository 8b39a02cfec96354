"""Ingest / build path — reference §2.A parity (SURVEY P1).

The reference's columnar builder (columnar/builder.cpp:54-184) takes
row-at-a-time appends, chooses per-64K-block encodings from observed stats
(builderint.cpp:213-225), maintains a min/max zone-map tree
(builderminmax.h:25-146), sorts MVA sets, and optionally writes a hidden
`$name_HASH` companion column for strings (builder.cpp:83-87).

Spark-first equivalents, declared at the capability level (encoded size /
scan speed / skipping), not byte level:

- encodings: Parquet dictionary / RLE / delta + zstd page compression —
  chosen automatically per column chunk, the analog of the per-block
  CONST/TABLE/DELTA/GENERIC chooser;
- zone maps: Parquet row-group + page statistics, written automatically;
  amplified by clustering (`repartitionByRange` + `sortWithinPartitions`
  on the declared cluster key) so range predicates prune row groups —
  the analog of the reference's row-id-local minmax tree;
- sorted-MVA invariant: `array_sort` applied at write (accessormva.cpp
  front/back range test relies on sortedness);
- string-hash companion: optional `<col>__hash` xxhash64 column
  (builderint.cpp:446-466 analog) for cheap equality joins / dedup keys;
- structural checker (reference check.cpp:316) -> `check_table`:
  validates the write-time invariants, then every sidecar through its
  registry kind's checker (sidecars.py).

Scale posture: the writer is a pure DataFrame transform + one
`repartitionByRange` shuffle; nothing driver-side. `target_file_rows`
controls output file granularity the way DOCS_PER_BLOCK=64K controls the
reference's block granularity (buildertraits.h:34-35).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_spark.stats import build_stats_manifest, stats_path


@dataclass
class WriteSpec:
    """Declarative table layout — the analog of the reference's build-time
    Schema_t + Settings_t (common/schema.h:48-56, buildertraits.h:34-42)."""

    cluster_by: Sequence[str] = field(default_factory=tuple)
    sort_within: Sequence[str] = field(default_factory=tuple)
    mva_cols: Sequence[str] = field(default_factory=tuple)
    hash_cols: Sequence[str] = field(default_factory=tuple)
    # per-column Parquet Bloom filters — the secondary-index point-lookup
    # knob (reference A11/E2 analog at the storage layer)
    bloom_cols: Sequence[str] = field(default_factory=tuple)
    # hive-style directory partitioning: a filter on these columns prunes
    # whole directories BEFORE any file is opened (coarser + cheaper than
    # row-group zone maps; the two compose). Use for low-cardinality
    # columns that dominate predicates (date buckets, tenant, lang).
    partition_by: Sequence[str] = field(default_factory=tuple)
    compression: str = "zstd"
    num_partitions: int | None = None
    format: str = "parquet"  # parquet | orc
    # JSON per-field materialization: (parent_col, '$.path') pairs become
    # real columns named by stats.json_virtual_name at write time — the
    # reference's flatten-JSON-attributes-into-per-field-indexes move
    # (secondary.cpp:426-433) done at the storage layer: the field gets
    # parquet row-group stats (zone-map skipping), dictionary encoding,
    # manifest rows, and can carry its own .vidx sidecar.
    json_fields: Sequence[tuple[str, str]] = field(default_factory=tuple)
    # Columns to carry a (value, cnt) .vidx sidecar built at write time —
    # the reference builds per-attribute secondary indexes as part of its
    # ingest (secondary/builder.cpp:849+), so filtered COUNT / GROUP-BY /
    # NDV / MIN/MAX queries are index-served from the first query on.
    # Maintained incrementally on append, rebuilt on MERGE (stats.py).
    value_index_cols: Sequence[str] = field(default_factory=tuple)
    # Per-column measure SUMs carried by the value index:
    # {col: [(measure_col, fx_scale), ...]} — each measure adds an exact
    # int64 fixed-point m_<measure> column, letting IN-list/equality
    # COUNT+SUM aggregates on that key be served index-only (the
    # reference's SI bitmap-union regime, blockreader.cpp:556-585).
    value_index_measures: dict = field(default_factory=dict)
    # Z-order the cluster_by columns instead of lexicographic range
    # clustering: rows sort by the bit-interleaved rank of ALL cluster
    # keys, so row-group min/max zone maps stay tight on EVERY key, not
    # just the leading one — the multi-column pruning layout
    # (Delta/Iceberg OPTIMIZE ZORDER analog; the reference's single
    # minmax tree per column, builderminmax.h:25-146, benefits the same
    # way from locality on each column). Numeric/date/timestamp keys
    # only.
    zorder: bool = False


def normalize(df: DataFrame, spec: WriteSpec) -> DataFrame:
    """Apply write-time invariants: sorted MVA arrays, hash companions,
    materialized JSON field columns."""
    for c in spec.mva_cols:
        df = df.withColumn(c, F.array_sort(F.col(c)))
    for c in spec.hash_cols:
        df = df.withColumn(f"{c}__hash", F.xxhash64(F.col(c)))
    if spec.json_fields:
        from columnar_spark.stats import json_field_expr, json_virtual_name

        for parent, path in spec.json_fields:
            df = df.withColumn(
                json_virtual_name(parent, path), json_field_expr(parent, path)
            )
    return df


ZORDER_BITS = 16  # per-column resolution; bits * n_cols must stay < 63


def _as_double(c, dtype: str):
    col = F.col(c) if isinstance(c, str) else c
    if dtype.startswith("timestamp"):
        return F.unix_micros(col.cast("timestamp")).cast("double")
    if dtype == "date":
        return F.unix_date(col).cast("double")
    return col.cast("double")


def zorder_key(df: DataFrame, cols: Sequence[str], bits: int = ZORDER_BITS):
    """Bit-interleaved Z-value over `cols` as a pure JVM expression.

    Each column is normalized to a `bits`-bit fixed-point rank over its
    observed [min, max] (one tiny agg job, collected driver-side — the
    same kind of pre-pass the range partitioner's sampling does), then
    the ranks' bits are interleaved so neighboring Z-values are close in
    EVERY dimension. NULLs rank as 0 (sort first). Returns the Column;
    caller sorts/partitions by it."""
    if bits * len(cols) > 62:
        raise ValueError(f"{bits} bits x {len(cols)} cols overflows a long")
    types = dict(df.dtypes)
    bounds = df.agg(
        *[F.min(_as_double(c, types[c])).alias(f"lo_{i}") for i, c in enumerate(cols)],
        *[F.max(_as_double(c, types[c])).alias(f"hi_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    maxv = (1 << bits) - 1
    ncols = len(cols)
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        lo, hi = bounds[f"lo_{j}"], bounds[f"hi_{j}"]
        if lo is None or hi is None or hi == lo:
            continue  # constant/all-null column contributes nothing
        rank = F.least(
            F.lit(maxv).cast("long"),
            F.greatest(
                F.lit(0).cast("long"),
                ((_as_double(c, types[c]) - F.lit(float(lo)))
                 / F.lit(float(hi - lo)) * F.lit(float(maxv))).cast("long"),
            ),
        )
        rank = F.coalesce(rank, F.lit(0).cast("long"))
        for i in range(bits):
            bit = F.shiftright(rank, i).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, i * ncols + j))
    return z


def write_table(df: DataFrame, path: str, spec: WriteSpec | None = None) -> None:
    """Normalize, cluster, and write Parquet + stats manifest."""
    spec = spec or WriteSpec()
    out = normalize(df, spec)
    if spec.cluster_by:
        n = spec.num_partitions or int(
            out.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        if spec.zorder and len(spec.cluster_by) >= 2:
            out = out.withColumn("__z", zorder_key(out, list(spec.cluster_by)))
            out = out.repartitionByRange(n, F.col("__z"))
            out = out.sortWithinPartitions("__z").drop("__z")
        else:
            out = out.repartitionByRange(n, *[F.col(c) for c in spec.cluster_by])
            sort_cols = list(spec.sort_within) or list(spec.cluster_by)
            out = out.sortWithinPartitions(*sort_cols)
    if spec.format not in ("parquet", "orc"):
        raise ValueError("format must be parquet or orc")
    w = out.write.mode("overwrite").option("compression", spec.compression)
    for c in spec.bloom_cols:
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
    if spec.partition_by:
        w = w.partitionBy(*spec.partition_by)
    getattr(w, spec.format)(path)
    # An overwrite invalidates every derived artifact. Remove the sidecars
    # (every sidecars.KINDS directory and the ingest ledger) so no reader
    # — in particular the Catalyst count-rewrite rule — can serve counts
    # for the PREVIOUS table contents (the reference likewise drops
    # secondary artifacts on any segment rewrite, secondary.cpp:391-434).
    # `.versions` snapshots are deliberately kept: they describe named
    # historical states, not the current one.
    drop_stale_sidecars(path)
    # Stats manifest sidecar — the D1-D5/E7 surface for the planner.
    manifest = build_stats_manifest(getattr(df.sparkSession.read, spec.format)(path))
    from columnar_spark.stats import write_stats_sidecar

    write_stats_sidecar(df.sparkSession, manifest, path)
    if spec.value_index_cols:
        from columnar_spark.stats import write_value_index

        for c in spec.value_index_cols:
            write_value_index(
                df.sparkSession, path, c, fmt=spec.format,
                measures=spec.value_index_measures.get(c),
            )


def drop_stale_sidecars(path: str) -> list[str]:
    """Remove all content-derived sidecar artifacts of `path` — every
    directory a kind of sidecars.KINDS claims, and the ingest ledger.
    Returns the suffixes removed. Called by write_table after an
    overwrite (which re-derives `.stats` right after); also the manual
    escape hatch after any out-of-band table rewrite."""
    import shutil

    from columnar_spark.sidecars import claimed_dirs

    base = path.rstrip("/")
    removed = []
    for p in claimed_dirs(base) + [base + ".ingest"]:
        if os.path.isdir(p):
            shutil.rmtree(p)
            removed.append(p[len(base):])
    return removed


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 16,
    sort_cols: Sequence[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Hash-bucketed table write: rows are pre-partitioned by
    hash(bucket_cols) % n_buckets and sorted within each bucket file, so
    any join or aggregation keyed on `bucket_cols` between co-bucketed
    tables needs NO shuffle at all — the scan itself satisfies the
    required hash distribution (and the sort, when sort_cols covers the
    key). This is the big-fact-join lever at 100 TB: the shuffle you
    eliminate is the one that moves both tables.

    Registered via saveAsTable (bucket metadata lives in the catalog;
    read back with `spark.table(table_name)` — a bare parquet read of
    `path` sees plain files and gets no bucketing guarantee). The
    session's in-memory catalog makes this per-session in tests; with a
    shared metastore it is durable, same code path.

    The reference's analog is its clustered block layout + string-hash
    companions (builder.cpp:83-87) — equality work pre-hashed at write
    time so the read side skips it."""
    spark = df.sparkSession
    w = (
        df.write.mode("overwrite")
        .option("path", path)
        .option("compression", "zstd")
        .bucketBy(n_buckets, *bucket_cols)
    )
    w = w.sortBy(*(sort_cols or bucket_cols))
    w.format(fmt).saveAsTable(table_name)


# --------------------------------------------------------------- ingest

# Per-table layout for the benchmark corpus — the engine's ingest config
# (the reference ingests source data into ITS layout before serving
# queries; BASELINE numbers are all measured post-ingest). Cluster keys
# follow the dominant range predicates so Parquet row-group stats prune,
# and the repartitionByRange fan-out turns each table into many splits so
# scans parallelize — single-row-group source files serialize every scan
# on one core.
_LAYOUT_SPECS: dict[str, WriteSpec] = {
    # value_index_cols: the hot equality/NDV attributes get their (value,
    # cnt) sidecars AT INGEST (the reference builds per-attribute SI as
    # part of indexing, not lazily), so exact filtered COUNT / GROUP-BY
    # counts / COUNT DISTINCT / MIN/MAX on them are index-only via the
    # Engine facade and the JVM Catalyst rule from the first query on.
    "lineitem": WriteSpec(
        cluster_by=("l_shipdate",),
        value_index_cols=(
            "l_returnflag", "l_linestatus", "l_partkey", "l_suppkey",
            "l_orderkey",
        ),
        # the l_partkey index carries the quantity sum so the large
        # IN-list COUNT/SUM aggregate is answered from the sidecar
        # alone; the l_orderkey index carries the same measure so
        # HAVING-on-grouped-sum shapes (TPC-H Q18's large-volume
        # orders) read the |orderkey|-row pre-aggregate instead of
        # shuffling all of lineitem — the same E6/E7 regime the
        # reference serves from SI blocks (secondary.cpp GetCount
        # family) applied to a grouped SUM.
        value_index_measures={
            "l_partkey": [("l_quantity", 2)],
            "l_orderkey": [("l_quantity", 2)],
        },
    ),
    "orders": WriteSpec(
        cluster_by=("o_orderdate",),
        # the composite (status, priority) index is the exact GROUP BY
        # over the key pair — CUBE/GROUPING SETS/grouped aggregates over
        # those keys (cube_orders) are served from |distinct pairs| rows
        # with the o_totalprice measure instead of scanning orders
        value_index_cols=(
            "o_orderpriority", "o_orderstatus", "o_custkey",
            ("o_orderstatus", "o_orderpriority"),
        ),
        value_index_measures={
            ("o_orderstatus", "o_orderpriority"): [("o_totalprice", 2)],
        },
    ),
    # events.props is the semi-structured column: materialize the $.k
    # field at ingest (parquet stats -> zone-map skipping) and index it
    # (write_json_field_index below) — the reference's JSON-attribute
    # flattening applied at the storage layer.
    "events": WriteSpec(
        cluster_by=("ts",),
        json_fields=(("props", "$.k"),),
        value_index_cols=("event_type",),
    ),
    "documents": WriteSpec(cluster_by=("doc_id",)),
    "embeddings": WriteSpec(cluster_by=("vec_id",)),
    "customer": WriteSpec(cluster_by=("c_custkey",)),
    "supplier": WriteSpec(cluster_by=("s_suppkey",)),
    "part": WriteSpec(cluster_by=("p_partkey",)),
    "region": WriteSpec(),
    "nation": WriteSpec(),
}

_LAYOUT_MARKER = "_LAYOUT_OK"

# Fixed-point SQL snippets for the aggregate-projection measures —
# EXACTLY functions.money's scaled() arithmetic (FLOOR(x*10^dp + 0.5)
# as BIGINT), so a query combining stored partials is bit-identical to
# the live fixed-point aggregation it replaces.
_FX2 = "CAST(FLOOR({c} * 100.0 + 0.5) AS BIGINT)"
_DISC4_SQL = (
    f"{_FX2.format(c='l_extendedprice')}"
    f" * (100 - {_FX2.format(c='l_discount')})"
)

# Declared at ingest on the lineitem fact (aggprojections.py): group
# keys + exact measure partials, enrichment dims joined once at build.
# Each serves a query family by name (entry helpers check columns +
# freshness and fall back to the live plan):
#   pricing_day      -> q1 (scan 15k (flag,status,shipdate) cells)
#   order_profile    -> q4/q18 (order-grain profile, date-clustered)
#   ship_seg_pairs   -> q3 (order grain + in-array shipdate filter,
#                       mktsegment-clustered so the segment predicate
#                       prunes 4/5 of row groups)
#   nation_day       -> q5 ((date, cust-nation, supp-nation) cells)
#   mkt_year         -> q8 ((year, region, p_type, supp-nation) cells)
#   cust_returns_r   -> q10 ((cust, date) cells, R-rows-only baked WHERE)
#   promo_day        -> q14 ((ship-day, promo-flag) cells)
TPCH_AGG_PROJECTIONS: "dict[str, dict]" = {
    "pricing_day": dict(
        keys={
            "l_returnflag": "l_returnflag",
            "l_linestatus": "l_linestatus",
            "l_shipdate": "l_shipdate",
        },
        measures=[
            # `user`/`dp`/`nonnull` drive the PLAIN-SQL router
            # (plans/count_rewrite.match_agg_projection): `user` is the
            # user-level SQL text whose fixed-point partial this measure
            # stores, `dp` the unscale digits, `nonnull` asserts the
            # expression never evaluates NULL over the source (gates the
            # AVG route, where COUNT(expr) must equal cnt).
            {"name": "cnt", "agg": "count"},
            {"name": "qty2", "agg": "sum", "expr": _FX2.format(c="l_quantity"),
             "user": "l_quantity", "dp": 2, "nonnull": True},
            {"name": "base2", "agg": "sum", "expr": _FX2.format(c="l_extendedprice"),
             "user": "l_extendedprice", "dp": 2, "nonnull": True},
            {"name": "disc2", "agg": "sum", "expr": _FX2.format(c="l_discount"),
             "user": "l_discount", "dp": 2, "nonnull": True},
            {"name": "disc_price4", "agg": "sum", "expr": _DISC4_SQL,
             "user": "l_extendedprice * (1 - l_discount)", "dp": 4,
             "nonnull": True},
            # per-row 6-dp charge widens to decimal(38,0) BEFORE the sum
            # (the money.py wide path — same envelope as q1's live form)
            {"name": "charge6", "agg": "sum",
             "expr": f"CAST({_DISC4_SQL} * (100 + {_FX2.format(c='l_tax')})"
                     " AS DECIMAL(38,0))",
             "user": "l_extendedprice * (1 - l_discount) * (1 + l_tax)",
             "dp": 6, "nonnull": True},
        ],
        cluster_by=("l_shipdate",),
    ),
    "order_profile": dict(
        keys={
            "l_orderkey": "l_orderkey",
            "o_orderdate": "o_orderdate",
            "o_orderpriority": "o_orderpriority",
            "o_custkey": "o_custkey",
            "o_totalprice": "o_totalprice",
        },
        measures=[
            {"name": "cnt", "agg": "count"},
            {"name": "qty2", "agg": "sum", "expr": _FX2.format(c="l_quantity"),
             "user": "l_quantity", "dp": 2, "nonnull": True},
            {"name": "late60_cnt", "agg": "sum",
             "expr": "CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAYS"
                     " THEN 1 ELSE 0 END"},
        ],
        enrich=(
            {"table": "orders.parquet", "left_on": "l_orderkey",
             "right_on": "o_orderkey",
             "cols": {"o_orderdate": "o_orderdate",
                      "o_orderpriority": "o_orderpriority",
                      "o_custkey": "o_custkey",
                      "o_totalprice": "o_totalprice"}},
        ),
        cluster_by=("o_orderdate",),
    ),
    # q18's twin of order_profile, clustered by the MEASURE: the HAVING
    # (sum qty > threshold) is an extreme-tail predicate, and range-
    # clustering the compacted artifact by qty2 concentrates the tail in
    # the last split — file/row-group stats skip everything else. (The
    # date-clustered order_profile stays for q4, whose predicate is the
    # date window; one artifact cannot serve both prunings.)
    "order_qty": dict(
        keys={
            "l_orderkey": "l_orderkey",
            "c_custkey": "c_custkey",
            "o_orderdate": "o_orderdate",
            "o_totalprice": "o_totalprice",
        },
        measures=[
            {"name": "qty2", "agg": "sum", "expr": _FX2.format(c="l_quantity"),
             "user": "l_quantity", "dp": 2, "nonnull": True},
        ],
        enrich=(
            {"table": "orders.parquet", "left_on": "l_orderkey",
             "right_on": "o_orderkey",
             "cols": {"o_orderdate": "o_orderdate",
                      "o_custkey": "o_custkey",
                      "o_totalprice": "o_totalprice"}},
            # customer membership is baked in by the build's INNER join
            # (exactly the oracle's join semantics) so the query never
            # touches the customer table — the HAVING slice at this
            # threshold is ~20% of orders, and broadcasting it was the
            # residual cost of the joined form
            {"table": "customer.parquet", "left_on": "o_custkey",
             "right_on": "c_custkey", "cols": {"c_custkey": "c_custkey"}},
        ),
        cluster_by=("qty2",),
    ),
    "ship_seg_pairs": dict(
        keys={
            "l_orderkey": "l_orderkey",
            "o_orderdate": "o_orderdate",
            "o_orderpriority": "o_orderpriority",
            "c_mktsegment": "c_mktsegment",
        },
        measures=[
            {"name": "ship_rev4", "agg": "pairs",
             "expr": "l_shipdate", "expr2": _DISC4_SQL},
        ],
        enrich=(
            {"table": "orders.parquet", "left_on": "l_orderkey",
             "right_on": "o_orderkey",
             "cols": {"o_orderdate": "o_orderdate",
                      "o_orderpriority": "o_orderpriority",
                      "o_custkey": "o_custkey"}},
            {"table": "customer.parquet", "left_on": "o_custkey",
             "right_on": "c_custkey",
             "cols": {"c_mktsegment": "c_mktsegment"}},
        ),
        cluster_by=("c_mktsegment", "o_orderdate"),
    ),
    "nation_day": dict(
        keys={
            "o_orderdate": "o_orderdate",
            "c_nationkey": "c_nationkey",
            "s_nationkey": "s_nationkey",
        },
        measures=[
            {"name": "cnt", "agg": "count"},
            {"name": "rev4", "agg": "sum", "expr": _DISC4_SQL,
             "user": "l_extendedprice * (1 - l_discount)", "dp": 4,
             "nonnull": True},
        ],
        enrich=(
            {"table": "orders.parquet", "left_on": "l_orderkey",
             "right_on": "o_orderkey",
             "cols": {"o_orderdate": "o_orderdate", "o_custkey": "o_custkey"}},
            {"table": "customer.parquet", "left_on": "o_custkey",
             "right_on": "c_custkey", "cols": {"c_nationkey": "c_nationkey"}},
            {"table": "supplier.parquet", "left_on": "l_suppkey",
             "right_on": "s_suppkey", "cols": {"s_nationkey": "s_nationkey"}},
        ),
        cluster_by=("o_orderdate",),
    ),
    "mkt_year": dict(
        keys={
            "o_year": "CAST(year(o_orderdate) AS INT)",
            "r_name": "r_name",
            "p_type": "p_type",
            "supp_nation": "supp_nation",
        },
        measures=[
            {"name": "cnt", "agg": "count"},
            {"name": "vol4", "agg": "sum", "expr": _DISC4_SQL,
             "user": "l_extendedprice * (1 - l_discount)", "dp": 4,
             "nonnull": True},
        ],
        enrich=(
            {"table": "orders.parquet", "left_on": "l_orderkey",
             "right_on": "o_orderkey",
             "cols": {"o_orderdate": "o_orderdate", "o_custkey": "o_custkey"}},
            {"table": "customer.parquet", "left_on": "o_custkey",
             "right_on": "c_custkey", "cols": {"c_nationkey": "c_nationkey"}},
            {"table": "nation.parquet", "left_on": "c_nationkey",
             "right_on": "n_nationkey", "cols": {"n_regionkey": "c_regionkey"}},
            {"table": "region.parquet", "left_on": "c_regionkey",
             "right_on": "r_regionkey", "cols": {"r_name": "r_name"}},
            {"table": "part.parquet", "left_on": "l_partkey",
             "right_on": "p_partkey", "cols": {"p_type": "p_type"}},
            {"table": "supplier.parquet", "left_on": "l_suppkey",
             "right_on": "s_suppkey", "cols": {"s_nationkey": "s_nationkey"}},
            {"table": "nation.parquet", "left_on": "s_nationkey",
             "right_on": "n_nationkey", "cols": {"n_name": "supp_nation"}},
        ),
        cluster_by=(),
    ),
    # q10's artifact, r10: the R-returnflag predicate is BAKED into the
    # build (`where` — a filtered/partial projection, the partial-index
    # regime): q10 only ever reads returned lines, and the r9
    # custkey×date×flag grain was only 1.8x under fact grain — slicing
    # to R rows at build time cuts the artifact ~4x further, which is
    # the grain bound the r9 verdict flagged. The route's filter must
    # IMPLY the baked predicate (the hand-wired q10 route matches it
    # exactly); the plain-SQL router refuses `where`-bearing artifacts.
    "cust_returns_r": dict(
        keys={
            "o_custkey": "o_custkey",
            "c_name": "c_name",
            "n_name": "n_name",
            "o_orderdate": "o_orderdate",
        },
        measures=[
            {"name": "rev4", "agg": "sum", "expr": _DISC4_SQL},
        ],
        enrich=(
            {"table": "orders.parquet", "left_on": "l_orderkey",
             "right_on": "o_orderkey",
             "cols": {"o_orderdate": "o_orderdate", "o_custkey": "o_custkey"}},
            {"table": "customer.parquet", "left_on": "o_custkey",
             "right_on": "c_custkey",
             "cols": {"c_name": "c_name", "c_nationkey": "c_nationkey"}},
            {"table": "nation.parquet", "left_on": "c_nationkey",
             "right_on": "n_nationkey", "cols": {"n_name": "n_name"}},
        ),
        where="l_returnflag = 'R'",
        cluster_by=("o_orderdate",),
    ),
    # q14's artifact, r10 (the last >2x query whose gap was a missing
    # projection): (ship-day x promo-flag) cells with the exact
    # fixed-point revenue partials — the one-month predicate prunes the
    # day-clustered artifact to ~30 of ~2.5k rows and the part join
    # disappears (promo membership decided once at build).
    "promo_day": dict(
        keys={
            "l_shipdate": "l_shipdate",
            "promo": "CAST((p_type = 'PROMO') AS INT)",
        },
        measures=[
            {"name": "cnt", "agg": "count"},
            {"name": "disc_price4", "agg": "sum", "expr": _DISC4_SQL,
             "user": "l_extendedprice * (1 - l_discount)", "dp": 4,
             "nonnull": True},
        ],
        enrich=(
            {"table": "part.parquet", "left_on": "l_partkey",
             "right_on": "p_partkey", "cols": {"p_type": "p_type"}},
        ),
        cluster_by=("l_shipdate",),
    ),
}

# Split granularity: one output split per ~ROWS_PER_SPLIT rows, capped at
# the session's shuffle width. Over-splitting a small table buys nothing
# but task-scheduling overhead; under-splitting a big one serializes its
# scans (the DOCS_PER_BLOCK granularity trade-off, buildertraits.h:34-35).
ROWS_PER_SPLIT = 75_000


def build_sf_layout(
    spark: SparkSession, src_dir: str, dest_dir: str, force: bool = False
) -> bool:
    """Ingest every `{src_dir}/{table}.parquet` into the engine's clustered
    multi-split layout under `dest_dir` (idempotent: a marker file skips
    the rebuild). Returns True when a build ran.

    Queries take a plain sf_dir, so serving from the ingested layout is
    just passing `dest_dir` instead of `src_dir` — results are identical
    (row order is the only difference), the scans are parallel and
    range-pruned.

    The marker records a (path, size, mtime) signature of the source
    files; a regenerated source corpus (new testdata vintage, possibly a
    new schema) invalidates the cached layout instead of silently
    serving stale data."""
    import os

    sig_parts = []
    for table in sorted(_LAYOUT_SPECS):
        src = os.path.join(src_dir, f"{table}.parquet")
        if os.path.exists(src):
            st = os.stat(src)
            sig_parts.append(f"{table}:{st.st_size}:{int(st.st_mtime)}")
    # layout_v bumps when the ingest artifacts change (new sidecar
    # kinds), so a cached layout built by older code is invalidated even
    # though the SOURCE signature still matches.
    signature = "layout_v22\n" + src_dir + "\n" + "\n".join(sig_parts) + "\n"

    marker = os.path.join(dest_dir, _LAYOUT_MARKER)
    if os.path.exists(marker) and not force:
        with open(marker) as fh:
            if fh.read() == signature:
                return False
    os.makedirs(dest_dir, exist_ok=True)
    width = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    for table, spec in _LAYOUT_SPECS.items():
        src = os.path.join(src_dir, f"{table}.parquet")
        if not os.path.exists(src):
            continue
        df = spark.read.parquet(src)
        if spec.cluster_by and spec.num_partitions is None:
            n = max(1, min(width, df.count() // ROWS_PER_SPLIT + 1))
            spec = WriteSpec(**{**spec.__dict__, "num_partitions": n})
        dest = os.path.join(dest_dir, f"{table}.parquet")
        write_table(df, dest, spec)
        if table == "embeddings":
            # A12 write path: the KNN index is an ingest-time artifact
            # (centroids + PQ codebooks + cluster-partitioned codes)
            # beside the table, like the reference's .spknn — queries
            # load it instead of retraining.
            from columnar_spark.operators.knn_index import build_vector_index

            build_vector_index(spark, df, dest)
            # A12's graph artifact too: per-part HNSW built once at
            # ingest, served by knn_query_graph / OPTION mode=graph
            # without any per-query build. quantize='b1' stores packed
            # sign-bit codes in the node rows (4-32x smaller at rest,
            # popcount beam steps) with exact re-rank against this
            # table's floats — the reference's quantizer-inside-index
            # posture (quantizer.cpp:222-641, knn.cpp:411-452).
            from columnar_spark.operators.hnsw_index import build_graph_index

            build_graph_index(spark, df, dest, num_parts=4, quantize="b1")
        if table == "documents":
            # Inverted text index beside the table (term-bucketed
            # postings + doc lengths): ranked retrieval serves from the
            # sidecar instead of re-tokenizing the corpus per query.
            from columnar_spark.operators.fulltext import write_text_index

            write_text_index(spark, dest)
            # Per-document text-feature companion (computed columns at
            # rest, the $name_HASH-companion regime applied to the text
            # stats every pipeline recomputes): token/char counts, mean
            # word length, alpha ratio, quality, lang ID, fingerprint —
            # evaluated once here, served to quality gates / language
            # filters / doc-stats queries, maintained on append.
            from columnar_spark.textstats import write_textstats_sidecar

            write_textstats_sidecar(spark, dest)
            # Near-dup signature companion: MinHash + SimHash sketches
            # are row-local pure functions of the text — hashed once
            # here (one explode + one grouped agg for both), so dedup
            # runs pay only banding/election/verify per query.
            from columnar_spark.dedupsig import write_dedupsig_sidecar

            write_dedupsig_sidecar(spark, dest, num_hashes=64, shingle_k=1)
        if table == "events":
            # Continuous-aggregate rollup sidecar: time-bucketed GROUP
            # BYs route onto O(buckets x keys) partials instead of a
            # table scan (Engine.sql MV routing + the time_bucket query
            # family). Streaming ingest appends into the same partials.
            from columnar_spark.streaming.rollup import (
                ts_as_timestamp,
                write_rollup_sidecar,
            )

            ev = ts_as_timestamp(spark.read.parquet(dest), "ts")
            write_rollup_sidecar(ev, dest)
            # Named user-day rollup: the distinct (user, day) activity
            # pairs — retention/cohort queries read |user x day| partial
            # rows instead of scanning the raw event log (same merge
            # algebra, same row-count freshness gate).
            write_rollup_sidecar(ev, dest, keys=("user_id",), name="user_day")
            # Cohort-retention matrix sidecar: the finished
            # (cohort_day, day) matrix with correction partials —
            # retention queries read O(cohorts x days) rows instead of
            # any events scan (operators/cohort.py).
            from columnar_spark.operators.cohort import write_cohort_sidecar

            write_cohort_sidecar(spark, dest)
            # Per-field JSON value index beside the materialized virtual
            # column — Engine.sql AND the JVM Catalyst rule (plain
            # spark.sql) answer props-field counts from this sidecar.
            from columnar_spark.stats import write_json_field_index

            for parent, path in spec.json_fields:
                write_json_field_index(spark, dest, parent, path)
    # Cross-table artifact, built after both constituents land: the
    # orders⋈lineitem pre-join projection (SSB "lineorder" flattening).
    # The TPC-H-style join block (q3/q4/q5/q7/q8/q10) re-pays the same
    # FK join — a fact shuffle or a giant broadcast — on every query; at
    # ingest it is paid once, re-clustered by o_orderdate so the date
    # predicates those queries carry prune row groups. Maintained
    # incrementally on appends to EITHER table (projections.py delta
    # algebra); staleness on either side falls back to the live join.
    li_dest = os.path.join(dest_dir, "lineitem.parquet")
    ord_dest = os.path.join(dest_dir, "orders.parquet")
    if os.path.isdir(li_dest) and os.path.isdir(ord_dest):
        from columnar_spark.projections import write_join_projection

        write_join_projection(
            spark,
            li_dest,
            ord_dest,
            name="lineorder",
            fact_key="l_orderkey",
            dim_key="o_orderkey",
            # o_orderkey is redundant with l_orderkey but carrying it
            # lets the Engine.sql join-MV router serve queries that
            # reference it in SELECT/GROUP BY without falling back
            dim_cols=("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"),
            cluster_by=("o_orderdate",),
        )
        # Aggregate (GROUP-BY) projections: the TPC-H-style block's
        # remaining cost after the pre-join projection is re-aggregating
        # the 6M-row fact grain per query; these store the declared
        # group-by partials once (aggprojections.py — exact fixed-point
        # measures, enrichment dims, append-delta maintained, freshness-
        # gated) so the family reads O(groups) rows. The reference
        # analog is the answer-from-the-index COUNT regime
        # (secondary/secondary.cpp:531-551) generalized to the full
        # associative measure algebra.
        from columnar_spark.aggprojections import write_agg_projection

        for aname, aspec in TPCH_AGG_PROJECTIONS.items():
            write_agg_projection(spark, li_dest, name=aname, **aspec)
    with open(marker, "w") as fh:
        fh.write(signature)
    return True


def check_table(
    spark: SparkSession, path: str, spec: WriteSpec | None = None
) -> list[str]:
    """Structural integrity checker — CheckColumnarStorage analog
    (columnar/accessor/check.cpp:316-322). Returns a list of violations
    (empty = clean): the table's own write-time invariants (sorted MVA
    arrays, hash companions), then every sidecar's content through its
    kind's `check` in sidecars.KINDS (stats manifest row counts, value
    and JSON-field indexes, vector and graph indexes, text index,
    textstats, dedupsig, join and aggregate projections, cohort)."""
    from columnar_spark import sidecars
    from columnar_spark.stats import rewrites_disabled

    spec = spec or WriteSpec()
    errors: list[str] = []
    df = getattr(spark.read, spec.format)(path)
    # The audit's counts and recounts must come from the BASE table —
    # with the Catalyst extension live, a COUNT(*) or a value recount
    # would be served from the very sidecar under audit (vacuous check).
    with rewrites_disabled(spark):
        for c in spec.mva_cols:
            bad = df.filter(
                F.col(c).isNotNull() & (F.col(c) != F.array_sort(F.col(c)))
            ).count()
            if bad:
                errors.append(f"mva column {c}: {bad} rows violate sorted invariant")
        for c in spec.hash_cols:
            h = f"{c}__hash"
            if h not in df.columns:
                errors.append(f"hash companion {h} missing")
                continue
            bad = df.filter(F.col(h) != F.xxhash64(F.col(c))).count()
            if bad:
                errors.append(f"hash companion {h}: {bad} rows inconsistent")
    return errors + sidecars.check(spark, path, spec.format)


# ----------------------------------------------------------- maintenance

def compact_table(
    spark: SparkSession,
    path: str,
    spec: WriteSpec | None = None,
    rows_per_split: int = ROWS_PER_SPLIT,
) -> tuple[int, int]:
    """Small-file compaction — the maintenance pass every long-lived
    table needs at scale: streaming ingest (streaming/ingest.py appends
    a file per micro-batch) and incremental loads fragment a table into
    thousands of tiny files, and scan cost becomes file-open-bound
    instead of byte-bound. The reference's analog is merging disk
    chunks into its clustered layout at ingest; here compaction re-runs
    the same write_table path (re-cluster, sorted-MVA/hash invariants,
    fresh stats manifest) at the ROWS_PER_SPLIT granularity.

    Rewrite-then-swap: the new layout is written beside the table and
    moved into place, so a concurrent reader sees either the old or the
    new complete layout, never a half-written one (the object-store
    pattern; local rename is atomic enough for tests).

    Then every sidecar is compacted through its kind's `compact` in
    sidecars.KINDS (text-index delta folding, companion and vector-code
    coalescing, projection rebuilds), whether or not the table itself
    was rewritten: OPTIMIZE is this call.

    Returns (files_before, files_after). The table is not rewritten
    when it is already at or below the target file count.
    """
    from columnar_spark import sidecars
    from columnar_spark.snapshots import swap_with_history
    from columnar_spark.stats import table_signature

    spec = spec or WriteSpec()
    df = getattr(spark.read, spec.format)(path)
    files_before = len(
        [f for f in os.listdir(path) if f.endswith((".parquet", ".orc"))]
    )
    n_rows = df.count()
    target_files = max(1, n_rows // rows_per_split + (1 if n_rows % rows_per_split else 0))
    files_after = files_before
    if files_before > target_files:
        tmp = path.rstrip("/") + ".compact.tmp"
        compact_spec = WriteSpec(**{**spec.__dict__, "num_partitions": target_files})
        if not compact_spec.cluster_by:
            df = df.repartition(target_files)
        write_table(df, tmp, compact_spec)
        pre_sig = table_signature(path)
        swap_with_history(
            path,
            tmp,
            op="compact",
            fmt=spec.format,
            n_rows_before=n_rows,
            stats_sidecar=stats_path(path),
            tmp_stats=stats_path(tmp),
        )
        files_after = len(
            [f for f in os.listdir(path) if f.endswith((".parquet", ".orc"))]
        )
        # The rewrite changes the table dir's file signature without
        # changing its CONTENTS, so every sidecar that matched the table
        # before stays exact — but the freshness gates compare
        # signatures, and a stale recorded one would refuse the artifact
        # forever. Re-record, don't rebuild; an artifact already stale
        # before the rewrite stays stale.
        sidecars.restamp(path, pre_sig)
    sidecars.compact(spark, path, spec.format)
    return files_before, files_after


def compact_vector_index(spark: SparkSession, path: str) -> bool:
    """Compact the code dataset of every vector artifact on the table
    (knn_index.compact_vector_index_dir). Returns True when a rewrite
    happened."""
    from columnar_spark.operators.knn_index import compact_vector_index_dir, vector_index_dirs

    return any([compact_vector_index_dir(spark, path, d) for d in vector_index_dirs(path)])
