"""Every sidecar kind a table carries, in one ordered list.

A table at `<dir>/<name>.parquet` carries derived artifacts beside it
(`<name>.parquet.<suffix>`). The reference never maintains them one by
one: a segment rebuild runs the columnar, secondary-index and KNN
builders together, whatever the reason for the rebuild, and its checker
(CheckColumnarStorage, columnar/accessor/check.cpp:316-322) sends each
column type to its own checker from one place. Here each kind in KINDS
states, delegating to the kind's own writer, merge and checker
functions:

- `instances(table_path)`: where its artifacts live beside the table
  (one entry per artifact: an indexed column, a vector-index dir, a
  projection name, ...), `artifact(table_path, inst)`: the directory of
  one, and `suffix`, the sibling names it claims;
- `fold(m, inst)`: fold an appended batch (`m.batch`) in;
- `rebuild(m, inst)`: rebuild from the table's current contents, and
  `remove(path, inst)`: delete the artifact (default: its directory);
- `dml`: what a row mutation does to it, "rebuild" or "drop" (JSON-field
  indexes are dropped, the reference's disable-on-update);
- `restamp(path, inst, pre_sig)`: re-record the table signature after a
  rewrite that kept the rows (compaction), if the artifact matched the
  table before it (`pre_sig`); default: the artifact's `_table_sig.json`;
- `check(m, inst)`: the artifact's violations against the table's
  contents ([] = clean); None for kinds with no content check;
- `describe(path, inst)`: its SHOW INDEXES column and its SHOW CREATE
  TABLE clause (None: not declarable in DDL);
- `compact(m, inst)`: OPTIMIZE's maintenance of the artifact itself
  (delta folding, file coalescing, a re-clustering rebuild); None: none.

Entries that run Spark take the pass's `Maint` (session, table path and
format); filesystem-only ones the table path. The flows are loops over
that one list:

- `fold_batch` is streaming/ingest.append_batch's maintenance step. On
  a crashed ledger it rebuilds every kind instead, except the
  `retry_exact` ones (text index, vocab), whose own applied-batch
  staging makes the fold exact under a retry;
- `reindex` is the DML tail (operators/upsert.reindex_table);
- `restamp` and `compact` follow writer.compact_table (OPTIMIZE);
- `check` is writer.check_table's sidecar audit;
- `inventory` is SHOW INDEXES and SHOW CREATE TABLE (table.py);
- `claimed_dirs` is the drop list (writer.drop_stale_sidecars).

A rebuild that fails removes its artifact, so nothing serves stale
data. A new sidecar kind registers here, and only here.
"""

from __future__ import annotations

import logging
import os
import re
import shutil
from dataclasses import dataclass
from functools import cached_property
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from columnar_spark import aggprojections as agp
from columnar_spark import dedupsig as dsig
from columnar_spark import objstore
from columnar_spark import projections as proj
from columnar_spark import stats
from columnar_spark import textstats as tstats
from columnar_spark.localrel import local_relation
from columnar_spark.operators import cohort
from columnar_spark.operators import fulltext as ft
from columnar_spark.operators import hnsw_index as hnsw
from columnar_spark.operators import knn_index as ivf
from columnar_spark.streaming import rollup
from columnar_spark.streaming import vocab

_log = logging.getLogger(__name__)


@dataclass
class Maint:
    """One maintenance pass over the table at `path`: an append's fold
    (`batch` = the committed rows), a rebuild, a check or a compaction."""

    spark: SparkSession
    path: str
    fmt: str = "parquet"
    batch: "DataFrame | None" = None
    batch_id: "int | None" = None
    # the table's signature just before the append: the projection and
    # cohort folds rebuild instead of masking an out-of-band rewrite
    pre_sig: "dict | None" = None

    @cached_property
    def table(self) -> DataFrame:
        return getattr(self.spark.read, self.fmt)(self.path)

    def has(self, *cols: str) -> bool:
        return all(c in self.batch.columns for c in cols)


# restamp default: re-record the `_table_sig.json` in the artifact dir
_ARTIFACT_SIG: Any = "artifact"


@dataclass(frozen=True)
class Kind:
    name: str
    # regex over the sibling name after `<table>`; None for kinds whose
    # artifacts live beside ANOTHER table (projection dim/enrich sides)
    suffix: "str | None"
    instances: Callable[[str], list]
    artifact: Callable[[str, Any], str]
    fold: Callable[[Maint, Any], None]
    rebuild: Callable[[Maint, Any], None]
    check: "Callable[[Maint, Any], list[str]] | None" = None
    # (SHOW INDEXES column, SHOW CREATE TABLE clause or None)
    describe: "Callable[[str, Any], tuple[str, str | None]]" = lambda p, inst: ("—", None)
    compact: "Callable[[Maint, Any], None] | None" = None
    remove: "Callable[[str, Any], None] | None" = None
    # None for kinds that carry no signature
    restamp: "Callable[[str, Any, dict], None] | None" = _ARTIFACT_SIG
    dml: str = "rebuild"
    retry_exact: bool = False

    def __post_init__(self):
        art = self.artifact
        if self.remove is None:
            object.__setattr__(self, "remove", lambda p, inst: _rmtree(art(p, inst)))
        if self.restamp is _ARTIFACT_SIG:
            object.__setattr__(
                self, "restamp", lambda p, inst, pre: _restamp_sig(p, art(p, inst), pre)
            )


def _rmtree(p: str) -> None:
    shutil.rmtree(p, ignore_errors=True)


def _remove_keeping_col_dirs(d: str) -> None:
    """Remove one vector/graph artifact. The ROOT `.knn`/`.knn-graph`
    layout nests the per-attribute `col=*` artifacts, so removing the
    root's payload must keep those healthy siblings."""
    if not os.path.isdir(d):
        return
    for entry in os.listdir(d):
        if entry.startswith("col="):
            continue
        p = os.path.join(d, entry)
        if os.path.isdir(p):
            _rmtree(p)
        else:
            try:
                os.remove(p)
            except OSError:
                pass
    if not os.listdir(d):
        _rmtree(d)


def _same_sig(rec: "dict | None", sig: dict) -> bool:
    return rec is not None and all(
        rec.get(k) == sig.get(k) for k in ("files", "bytes", "max_mtime_ms")
    )


def _restamp_sig(path: str, art: str, pre_sig: dict) -> None:
    if _same_sig(objstore.read_json(art, "_table_sig.json"), pre_sig):
        stats._write_table_sig(path, art)


# ----------------------------------------------------- stats + sketch

def _write_stats(m: Maint, sketch: DataFrame) -> None:
    # materialized first: the sketch plan may read the path it replaces
    sk = local_relation(m.spark, sketch)
    sk.coalesce(1).write.mode("overwrite").parquet(stats.sketch_path(m.path))
    stats.write_stats_sidecar(
        m.spark, stats.manifest_from_sketch(sk).coalesce(1), m.path
    )


def _fold_stats(m: Maint, _inst) -> None:
    # the merge resolves through streaming.ingest, the name the append
    # trace (perfbench/probe.py, span stats.merge_sketches) wraps
    from columnar_spark.streaming import ingest

    sp = stats.sketch_path(m.path)
    if os.path.isdir(sp):
        _write_stats(m, ingest.merge_sketches(
            m.spark.read.parquet(sp), stats.build_stats_sketch(m.batch)
        ))
    else:
        # first sketch: the table may hold rows the batch does not
        # cover — bootstrap from the whole table once
        _rebuild_stats(m, None)


def _rebuild_stats(m: Maint, _inst) -> None:
    _write_stats(m, stats.build_stats_sketch(m.table))


def _remove_stats(path: str, _inst) -> None:
    _rmtree(stats.stats_path(path))
    _rmtree(stats.sketch_path(path))


# ---------------------------------------- value / JSON-field / posting

def _value_index_cols(path: str) -> list:
    return [
        c for c in stats.persisted_value_index_cols(path)
        if stats.json_index_meta(path, c) is None
    ]


def _fold_value_index(m: Maint, col: str) -> None:
    # a composite index folds from its key columns
    if m.has(*(stats.composite_index_cols(m.path, col) or [col])):
        stats.merge_value_index(m.spark, m.path, col, m.batch)


def _rebuild_value_index(m: Maint, col: str) -> None:
    ms = stats.value_index_measures(m.path, col)
    stats.write_value_index(
        m.spark, m.path, col, m.fmt,
        measures=[(mc, int(dp)) for mc, dp in ms] if ms else None,
    )


def _describe_value_index(path: str, col: str) -> tuple:
    return col, f"INDEX ({', '.join(stats.composite_index_cols(path, col) or [col])})"


def _json_field_indexes(path: str) -> list:
    return [
        (c, jm) for c in stats.persisted_value_index_cols(path)
        if (jm := stats.json_index_meta(path, c)) is not None
    ]


def _fold_json_field_index(m: Maint, inst) -> None:
    col, jm = inst
    if m.has(jm["parent"]):
        stats.merge_value_index(m.spark, m.path, col, m.batch)


def _rebuild_json_field_index(m: Maint, inst) -> None:
    _col, jm = inst
    stats.write_json_field_index(m.spark, m.path, jm["parent"], jm["json_path"], m.fmt)


def _describe_json_field_index(_path: str, inst) -> tuple:
    _col, jm = inst
    return (
        f"{jm['parent']}:{jm['json_path']}",
        f"INDEX (get_json_object({jm['parent']}, '{jm['json_path']}'))",
    )


def _posting_indexes(path: str) -> list:
    return [
        (c, idc) for c in stats.persisted_posting_index_cols(path)
        if (idc := stats.posting_index_id_col(path, c))
    ]


def _fold_posting_index(m: Maint, inst) -> None:
    col, idc = inst
    if m.has(col, idc):
        stats.merge_posting_index(m.spark, m.path, col, m.batch, idc)


def _rebuild_posting_index(m: Maint, inst) -> None:
    col, idc = inst
    stats.write_posting_index(m.spark, m.path, col, idc, m.fmt)


# ------------------------------------------------- vector + HNSW graph

def _in_dir(d: str, errors: "list[str]") -> "list[str]":
    """Tag a per-attribute (`col=*`) artifact's violations with its dir."""
    tag = os.path.basename(d)
    return [f"{tag}: {e}" for e in errors] if tag.startswith("col=") else errors


def _fold_vector_index(m: Maint, vdir: str) -> None:
    vidx = ivf._load_vector_index_dir(m.path, vdir, check_fresh=False)
    if vidx is not None and m.has(vidx.vec_col):
        # codes append under the EXISTING centroids/codebooks
        ivf.append_to_vector_index(m.spark, m.batch, m.path, vec_col=vidx.vec_col)


def _rebuild_vector_index(m: Maint, vdir: str) -> None:
    vidx = ivf._load_vector_index_dir(m.path, vdir, check_fresh=False)
    if vidx is None:
        raise ValueError(f"unreadable vector index {vdir}")
    ivf.build_vector_index(
        m.spark, m.table, m.path,
        vec_col=vidx.vec_col, id_col=vidx.id_col, metric=vidx.metric,
        nlist=vidx.nlist, m=vidx.m, k=vidx.k,
        store_vectors="vec" in m.spark.read.parquet(vidx.vectors_path).columns,
        index_path=vdir,
    )


def _describe_vector_index(path: str, vdir: str) -> tuple:
    vi = ivf._load_vector_index_dir(path, vdir, check_fresh=False)
    if vi is None:
        return "—", None
    return vi.vec_col, (
        f"VECTOR INDEX ({vi.vec_col}) "
        f"WITH (metric='{vi.metric}', nlist={vi.nlist}, m={vi.m})"
    )


def _fold_graph_index(m: Maint, gdir: str) -> None:
    gmeta = hnsw.load_graph_index_meta(m.path, check_fresh=False, index_path=gdir)
    if gmeta is not None and m.has(gmeta["vec_col"]):
        hnsw.append_to_graph_index(m.spark, m.batch, m.path, index_path=gdir)


def _rebuild_graph_index(m: Maint, gdir: str) -> None:
    g = hnsw.load_graph_index_meta(m.path, check_fresh=False, index_path=gdir)
    if g is None:
        raise ValueError(f"unreadable graph index {gdir}")
    # keeps the artifact's quantization ladder and trained bounds
    hnsw.build_graph_index(
        m.spark, m.table, m.path,
        vec_col=g["vec_col"], id_col=g["id_col"], metric=g["metric"],
        M=g["m"], ef_construction=g["ef_construction"],
        num_parts=g["num_parts"], seed=g["seed"], quantize=g["quantize"],
        index_path=gdir,
        q8_bounds=(g["q8_lo"], g["q8_hi"]) if g["q8_lo"] is not None else None,
    )


def _describe_graph_index(path: str, gdir: str) -> tuple:
    gm = hnsw.load_graph_index_meta(path, check_fresh=False, index_path=gdir)
    return (gm["vec_col"] if gm else "—"), None


# ------------------------------------------------------ text companions

def _one(meta) -> list:
    return [] if meta is None else [meta]


def _fold_text_index(m: Maint, meta: dict) -> None:
    if m.has(meta["text_col"]):
        ft.append_to_text_index(m.spark, m.path, m.batch, batch_id=m.batch_id)


def _rebuild_text_index(m: Maint, meta: dict) -> None:
    ft.write_text_index(
        m.spark, m.path,
        text_col=meta.get("text_col", "text"), id_col=meta.get("id_col", "doc_id"),
        fmt=m.fmt, analyzer=meta.get("analyzer"),
    )


def _fold_vocab(m: Maint, meta: dict) -> None:
    if m.has(meta["text_col"]):
        vocab.append_vocab_delta(m.spark, m.path, m.batch, batch_id=m.batch_id)


def _rebuild_vocab(m: Maint, meta: dict) -> None:
    vocab.init_vocab_monitor(m.spark, m.path, meta["text_col"], force=True)


def _fold_textstats(m: Maint, meta: dict) -> None:
    if m.has(meta["text_col"], meta["id_col"]):
        tstats.merge_textstats(m.spark, m.path, m.batch)


def _rebuild_textstats(m: Maint, meta: dict) -> None:
    tstats.write_textstats_sidecar(m.spark, m.path, meta["id_col"], meta["text_col"])


def _fold_dedupsig(m: Maint, meta: dict) -> None:
    if m.has(meta["text_col"], meta["id_col"]):
        dsig.merge_dedupsig(m.spark, m.path, m.batch)


def _rebuild_dedupsig(m: Maint, meta: dict) -> None:
    dsig.write_dedupsig_sidecar(
        m.spark, m.path, meta["id_col"], meta["text_col"],
        num_hashes=meta["num_hashes"], shingle_k=meta["shingle_k"],
        store_shingle_hashes=meta.get("store_shingle_hashes", False),
    )


def _compact_companion(spark: SparkSession, p: str) -> None:
    """Coalesce-rewrite a row-local companion sidecar (.textstats /
    .dedupsig) at `p`, fragmented by per-batch appends: content is
    row-identical, so the meta and table-signature files carry over
    unchanged. Rewrite-then-swap like every compaction here."""
    from columnar_spark.writer import ROWS_PER_SPLIT

    # crash recovery first: a previous compaction that died between its
    # two renames leaves p missing with p.old intact (answers stayed
    # correct — loaders fall back to the live path), plus orphan
    # .old/.compact.tmp dirs no later run would sweep
    old, tmp = p + ".old", p + ".compact.tmp"
    if not os.path.isdir(p) and os.path.isdir(old):
        os.rename(old, p)
    _rmtree(tmp)
    if not os.path.isdir(p):
        return
    _rmtree(old)
    files = [f for f in os.listdir(p) if f.endswith(".parquet")]
    df = spark.read.parquet(p)
    n = df.count()
    target = max(1, n // ROWS_PER_SPLIT + (1 if n % ROWS_PER_SPLIT else 0))
    if len(files) <= max(target, 4):
        return
    df.repartition(target).write.mode("overwrite").parquet(tmp)
    for extra in ("_meta.json", "_table_sig.json"):
        src = os.path.join(p, extra)
        if os.path.isfile(src):
            shutil.copy(src, os.path.join(tmp, extra))
    os.rename(p, old)
    os.rename(tmp, p)
    _rmtree(old)


# ------------------------------------------------------------ projections
# Join and aggregate projections fold from both directions: this table
# may be the fact/source side (its delta joins the current dims) or a
# dim/enrichment side of a sibling's projection. Serial application
# under the writer lock makes the increments sum to exactly the delta
# of the join (projections.py, aggprojections.py delta algebra).

def _fold_join_fact(m: Maint, name: str) -> None:
    pm = proj.projection_meta(m.path, name)
    if pm and m.has(pm["fact_key"]):
        proj.merge_projection_fact_delta(m.spark, m.path, name, m.batch, pre_sig=m.pre_sig)


def _fold_join_dim(m: Maint, inst) -> None:
    fpath, name = inst
    pm = proj.projection_meta(fpath, name)
    if pm and m.has(pm["dim_key"]):
        proj.merge_projection_dim_delta(m.spark, fpath, name, m.batch, pre_sig=m.pre_sig)


def _compact_join(m: Maint, name: str) -> None:
    # a fragmented projection gets the full clustered rewrite (rebuild IS
    # its compaction — re-clusters by the declared key and re-records
    # both constituent signatures)
    n_table = len([f for f in os.listdir(m.path) if f.endswith((".parquet", ".orc"))])
    pdir = proj.projection_path(m.path, name)
    if len([f for f in os.listdir(pdir) if f.endswith(".parquet")]) > max(4, n_table):
        proj.rebuild_projection(m.spark, m.path, name)


def _restamp_join(fact: str, name: str, pre_sig: dict, changed: str) -> None:
    pm = proj.projection_meta(fact, name)
    if pm is None:
        return
    dim, pdir = proj._dim_abspath(fact, pm), proj.projection_path(fact, name)
    if not proj._stale_before_append(fact, dim, pdir, changed, pre_sig):
        proj._write_sigs(fact, dim, pdir)


# many micro-batches leave a partial file per append; past this many an
# aggregate projection folds back to one row per group inline
AGGPROJ_COMPACT_FILES = 64


def _fold_agg_source(m: Maint, name: str) -> None:
    agp.merge_agg_fact_delta(m.spark, m.path, name, m.batch, pre_sig=m.pre_sig)
    pdir = agp.agg_projection_path(m.path, name)
    if sum(f.endswith(".parquet") for f in os.listdir(pdir)) > AGGPROJ_COMPACT_FILES:
        agp.compact_agg_projection(m.spark, m.path, name)


def _rel(path: str) -> str:
    """An enrichment table's name in its projections' metas."""
    return os.path.basename(path.rstrip("/"))


def _fold_agg_enrich(m: Maint, inst) -> None:
    fpath, name = inst
    agp.merge_agg_enrich_delta(m.spark, fpath, name, _rel(m.path), m.batch, pre_sig=m.pre_sig)


def _restamp_agg(fact: str, name: str, pre_sig: dict, changed: str) -> None:
    meta = agp.agg_projection_meta(fact, name)
    if meta is None:
        return
    pdir = agp.agg_projection_path(fact, name)
    if not agp._stale_before_append(fact, meta, pdir, changed, pre_sig):
        agp._write_sigs(fact, meta, pdir)


# ------------------------------------------------------- cohort, rollup

def _fold_cohort(m: Maint, _meta) -> None:
    cohort.append_cohort_batch(m.spark, m.path, m.batch, pre_sig=m.pre_sig)


def _rebuild_cohort(m: Maint, meta: dict) -> None:
    cohort.write_cohort_sidecar(m.spark, m.path, meta["ts_col"], meta["user_col"])


def _fold_rollup(m: Maint, inst) -> None:
    name, meta = inst
    rollup.fold_rollup_sidecar(m.batch, m.path, name, meta, batch_id=m.batch_id)


def _rebuild_rollup(m: Maint, inst) -> None:
    name, meta = inst
    rollup.rebuild_rollup_sidecar(m.table, m.path, name, meta)


KINDS: "tuple[Kind, ...]" = (
    Kind(
        "stats", r"\.stats(?:_sketch)?", lambda p: [None],
        lambda p, _: stats.stats_path(p),
        _fold_stats, _rebuild_stats,
        check=lambda m, _: stats.check_stats_manifest(m.spark, m.path, m.fmt),
        remove=_remove_stats, restamp=None,
    ),
    Kind(
        "value_index", r"\.vidx", _value_index_cols, stats.value_index_path,
        _fold_value_index, _rebuild_value_index,
        check=lambda m, col: stats.check_value_index(m.spark, m.path, col, m.fmt),
        describe=_describe_value_index,
    ),
    Kind(
        "json_field_index", r"\.vidx", _json_field_indexes,
        lambda p, inst: stats.value_index_path(p, inst[0]),
        _fold_json_field_index, _rebuild_json_field_index,
        check=lambda m, inst: stats.check_value_index(m.spark, m.path, inst[0], m.fmt),
        describe=_describe_json_field_index,
        dml="drop",
    ),
    Kind(
        "posting_index", r"\.pidx", _posting_indexes,
        lambda p, inst: stats.posting_index_path(p, inst[0]),
        _fold_posting_index, _rebuild_posting_index,
        describe=lambda p, inst: (inst[0], None),
    ),
    Kind(
        "vector_index", r"\.knn", ivf.vector_index_dirs, lambda p, d: d,
        _fold_vector_index, _rebuild_vector_index,
        check=lambda m, d: _in_dir(d, ivf._check_vector_index_dir(m.spark, m.path, d)),
        describe=_describe_vector_index,
        compact=lambda m, d: ivf.compact_vector_index_dir(m.spark, m.path, d),
        remove=lambda p, d: _remove_keeping_col_dirs(d),
    ),
    Kind(
        "graph_index", r"\.knn-graph", hnsw.graph_index_dirs, lambda p, d: d,
        _fold_graph_index, _rebuild_graph_index,
        check=lambda m, d: _in_dir(d, hnsw.check_graph_index(m.spark, m.path, index_path=d)),
        describe=_describe_graph_index,
        remove=lambda p, d: _remove_keeping_col_dirs(d),
    ),
    Kind(
        "text_index", r"\.ftidx", lambda p: _one(ft.text_index_meta(p)),
        lambda p, _: ft.text_index_path(p),
        _fold_text_index, _rebuild_text_index,
        check=lambda m, _: ft.check_text_index(m.spark, m.path, m.fmt),
        describe=lambda p, meta: (
            "—", f"TEXT INDEX ({meta['text_col']}, {meta.get('id_col', 'doc_id')})"
        ),
        compact=lambda m, _: ft.compact_text_index(m.spark, m.path, m.fmt),
        restamp=None, retry_exact=True,
    ),
    Kind(
        "vocab", r"\.vocab", lambda p: _one(vocab.vocab_meta(p)),
        lambda p, _: p.rstrip("/") + ".vocab",
        _fold_vocab, _rebuild_vocab,
        restamp=None, retry_exact=True,
    ),
    Kind(
        "textstats", r"\.textstats", lambda p: _one(tstats.textstats_meta(p)),
        lambda p, _: tstats.textstats_path(p),
        _fold_textstats, _rebuild_textstats,
        check=lambda m, _: tstats.check_textstats(m.spark, m.path, m.fmt),
        compact=lambda m, _: _compact_companion(m.spark, tstats.textstats_path(m.path)),
    ),
    Kind(
        "dedupsig", r"\.dedupsig", lambda p: _one(dsig.dedupsig_meta(p)),
        lambda p, _: dsig.dedupsig_path(p),
        _fold_dedupsig, _rebuild_dedupsig,
        check=lambda m, _: dsig.check_dedupsig(m.spark, m.path, m.fmt),
        compact=lambda m, _: _compact_companion(m.spark, dsig.dedupsig_path(m.path)),
    ),
    Kind(
        "join_projection", re.escape(proj.PROJ_SUFFIX), proj.projections_on,
        proj.projection_path,
        _fold_join_fact,
        lambda m, name: proj.rebuild_projection(m.spark, m.path, name),
        check=lambda m, name: proj.check_projection(m.spark, m.path, name),
        describe=lambda p, name: (name, None),
        compact=_compact_join,
        restamp=lambda p, name, pre: _restamp_join(p, name, pre, "fact"),
    ),
    Kind(
        "join_projection_dim", None, proj.projections_referencing_dim,
        lambda p, inst: proj.projection_path(*inst),
        _fold_join_dim,
        lambda m, inst: proj.rebuild_projection(m.spark, *inst),
        restamp=lambda p, inst, pre: _restamp_join(*inst, pre, "dim"),
    ),
    Kind(
        "aggregate_projection", re.escape(agp.AGGPROJ_SUFFIX), agp.agg_projections_on,
        agp.agg_projection_path,
        _fold_agg_source,
        lambda m, name: agp.rebuild_agg_projection(m.spark, m.path, name),
        check=lambda m, name: agp.check_agg_projection(m.spark, m.path, name),
        describe=lambda p, name: (name, None),
        # the rebuild re-merges its partials and re-clusters
        compact=lambda m, name: agp.rebuild_agg_projection(m.spark, m.path, name),
        restamp=lambda p, name, pre: _restamp_agg(p, name, pre, "__source__"),
    ),
    Kind(
        "aggregate_projection_enrich", None, agp.agg_projections_referencing,
        lambda p, inst: agp.agg_projection_path(*inst),
        _fold_agg_enrich,
        lambda m, inst: agp.rebuild_agg_projection(m.spark, *inst),
        compact=lambda m, inst: agp.rebuild_agg_projection(m.spark, *inst),
        restamp=lambda p, inst, pre: _restamp_agg(*inst, pre, _rel(p)),
    ),
    Kind(
        "cohort", re.escape(cohort.COHORT_SUFFIX), lambda p: _one(cohort.cohort_meta(p)),
        lambda p, _: cohort.cohort_sidecar_path(p),
        _fold_cohort, _rebuild_cohort,
        check=lambda m, _: cohort.check_cohort_sidecar(m.spark, m.path),
    ),
    Kind(
        "rollup", r"\.rollup(?:-[A-Za-z0-9_\-]+)?", rollup.rollup_sidecars,
        lambda p, inst: rollup.rollup_sidecar_path(p, inst[0]),
        _fold_rollup, _rebuild_rollup,
        describe=lambda p, inst: (inst[0] or "—", None),
    ),
)


def rebuild(spark: SparkSession, path: str, fmt: str = "parquet", kinds=KINDS) -> None:
    """Rebuild every artifact of `kinds` on the table at `path` from its
    current contents, with the query rewrites off (a rebuild must read
    the base table, not the sidecar it replaces). An artifact whose
    rebuild fails is removed."""
    m = Maint(spark, path, fmt)
    with stats.rewrites_disabled(spark):
        for kind in kinds:
            for inst in kind.instances(path):
                try:
                    kind.rebuild(m, inst)
                except Exception:
                    _log.warning(
                        "%s sidecar %r of %s failed to rebuild; removed",
                        kind.name, inst, path, exc_info=True,
                    )
                    kind.remove(path, inst)


def fold_batch(
    spark: SparkSession,
    path: str,
    batch: "DataFrame | None",
    *,
    batch_id: "int | None" = None,
    pre_sig: "dict | None" = None,
    crashed: bool = False,
) -> None:
    """Fold the committed rows `batch` (None: the append wrote none)
    into every sidecar of the table at `path`, run after the table
    append. `crashed` (a previous attempt died mid-application, so no
    fold can know whether its sidecar already took the batch) rebuilds
    every kind from the table instead, except the retry-exact ones."""
    if crashed:
        rebuild(spark, path, kinds=[k for k in KINDS if not k.retry_exact])
    if batch is None:
        return
    m = Maint(spark, path, batch=batch, batch_id=batch_id, pre_sig=pre_sig)
    for kind in KINDS:
        if crashed and not kind.retry_exact:
            continue
        for inst in kind.instances(path):
            kind.fold(m, inst)


def reindex(spark: SparkSession, path: str, fmt: str = "parquet") -> None:
    """Bring every sidecar in line after a row mutation: each kind is
    dropped or rebuilt, as its `dml` says."""
    for kind in KINDS:
        if kind.dml == "drop":
            for inst in kind.instances(path):
                kind.remove(path, inst)
    rebuild(spark, path, fmt, [k for k in KINDS if k.dml == "rebuild"])


def restamp(path: str, pre_sig: dict) -> None:
    """After a rewrite that kept the table's rows (compaction), re-record
    the table signature in every artifact that carries one and matched
    the table before the rewrite (`pre_sig`): its content is still
    exact, and the freshness gates would refuse it otherwise. An
    artifact that was already stale stays stale, and refused."""
    for kind in KINDS:
        if kind.restamp is not None:
            for inst in kind.instances(path):
                kind.restamp(path, inst, pre_sig)


def compact(spark: SparkSession, path: str, fmt: str = "parquet") -> None:
    """Compact every artifact of the table at `path` whose kind has a
    `compact` step (text-index delta folding, companion coalescing,
    vector-code coalescing, projection rebuilds)."""
    m = Maint(spark, path, fmt)
    with stats.rewrites_disabled(spark):
        for kind in KINDS:
            if kind.compact is not None:
                for inst in kind.instances(path):
                    kind.compact(m, inst)


def check(spark: SparkSession, path: str, fmt: str = "parquet") -> "list[str]":
    """Every violation any sidecar of the table at `path` shows against
    the table's contents, with the query rewrites off (an audit answered
    from the sidecar under audit would be vacuous)."""
    m = Maint(spark, path, fmt)
    with stats.rewrites_disabled(spark):
        return [
            e for kind in KINDS if kind.check is not None
            for inst in kind.instances(path) for e in kind.check(m, inst)
        ]


def inventory(path: str) -> "list[tuple[str, str, str, str | None]]":
    """(kind, column, artifact dir, CREATE TABLE clause or None) of every
    artifact beside the table at `path`, in registry order: SHOW INDEXES
    and SHOW CREATE TABLE. Metadata only, no Spark job."""
    out = []
    for kind in KINDS:
        if kind.suffix is None:
            continue
        for inst in kind.instances(path):
            art = kind.artifact(path, inst)
            if os.path.isdir(art):
                column, clause = kind.describe(path, inst)
                out.append((kind.name, column, art, clause))
    return out


_CLAIMED = "(?:" + "|".join(k.suffix for k in KINDS if k.suffix) + ")"


def claims(table_path: str, sibling: str) -> bool:
    """Whether the sibling name `sibling` (e.g. `t.parquet.vidx`) is a
    sidecar of the table at `table_path`."""
    stem = os.path.basename(table_path.rstrip("/"))
    return re.fullmatch(re.escape(stem) + _CLAIMED, sibling) is not None


def claimed_dirs(table_path: str) -> "list[str]":
    """Every sidecar directory beside the table at `table_path`."""
    parent = os.path.dirname(table_path.rstrip("/")) or "."
    if not os.path.isdir(parent):
        return []
    return sorted(
        os.path.join(parent, e) for e in os.listdir(parent)
        if claims(table_path, e) and os.path.isdir(os.path.join(parent, e))
    )
