"""Every sidecar kind a table carries, in one ordered list.

A table at `<dir>/<name>.parquet` carries derived artifacts beside it
(`<name>.parquet.<suffix>`). The reference never maintains them one by
one: a segment rebuild runs the columnar, secondary-index and KNN
builders together, whatever the reason for the rebuild. Here each kind
in KINDS states, delegating to the kind's own writer and merge
functions:

- `instances(table_path)`: where its artifacts live beside the table
  (one entry per artifact: an indexed column, a vector-index dir, a
  projection name, ...), and `suffix`, the sibling names it claims;
- `fold(m, inst)`: fold an appended batch (`m.batch`) in;
- `rebuild(m, inst)`: rebuild from the table's current contents, and
  `remove(path, inst)`: delete the artifact;
- `dml`: what a row mutation does to it, "rebuild" or "drop" (JSON-field
  indexes are dropped, the reference's disable-on-update);
- `restamp(path, inst)`: re-record the table signature after a rewrite
  that kept the rows (compaction).

The maintenance flows are loops over that one list:

- `fold_batch` is streaming/ingest.append_batch's maintenance step. On
  a crashed ledger it rebuilds every kind instead, except the
  `retry_exact` ones (text index, vocab), whose own applied-batch
  staging makes the fold exact under a retry;
- `reindex` is the DML tail (operators/upsert.reindex_table);
- `restamp` follows writer.compact_table;
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
    (`batch` = the committed rows) or a rebuild."""

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


@dataclass(frozen=True)
class Kind:
    name: str
    # regex over the sibling name after `<table>`; None for kinds whose
    # artifacts live beside ANOTHER table (projection dim/enrich sides)
    suffix: "str | None"
    instances: Callable[[str], list]
    fold: Callable[[Maint, Any], None]
    rebuild: Callable[[Maint, Any], None]
    remove: Callable[[str, Any], None]
    # re-record the table signature after a rewrite that kept the rows;
    # None for kinds that carry no signature
    restamp: "Callable[[str, Any], None] | None" = None
    dml: str = "rebuild"
    retry_exact: bool = False


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
    _rmtree(path.rstrip("/") + ".stats")
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


# many micro-batches leave a partial file per append; past this many an
# aggregate projection folds back to one row per group inline
AGGPROJ_COMPACT_FILES = 64


def _fold_agg_source(m: Maint, name: str) -> None:
    agp.merge_agg_fact_delta(m.spark, m.path, name, m.batch, pre_sig=m.pre_sig)
    pdir = agp.agg_projection_path(m.path, name)
    if sum(f.endswith(".parquet") for f in os.listdir(pdir)) > AGGPROJ_COMPACT_FILES:
        agp.compact_agg_projection(m.spark, m.path, name)


def _fold_agg_enrich(m: Maint, inst) -> None:
    fpath, name = inst
    rel = os.path.basename(m.path.rstrip("/"))
    agp.merge_agg_enrich_delta(m.spark, fpath, name, rel, m.batch, pre_sig=m.pre_sig)


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


def _sig(index_dir: "Callable[..., str]"):
    """restamp for a kind whose artifact records `_table_sig.json`."""
    return lambda p, inst: stats._write_table_sig(p, index_dir(p, inst))


def _restamp_join(fact: str, name: str) -> None:
    pm = proj.projection_meta(fact, name)
    if pm is not None:
        proj._write_sigs(fact, proj._dim_abspath(fact, pm), proj.projection_path(fact, name))


def _restamp_agg(fact: str, name: str) -> None:
    meta = agp.agg_projection_meta(fact, name)
    if meta is not None:
        agp._write_sigs(fact, meta, agp.agg_projection_path(fact, name))


KINDS: "tuple[Kind, ...]" = (
    Kind(
        "stats", r"\.stats(?:_sketch)?", lambda p: [None],
        _fold_stats, _rebuild_stats, _remove_stats,
    ),
    Kind(
        "value_index", r"\.vidx", _value_index_cols,
        _fold_value_index, _rebuild_value_index,
        lambda p, col: _rmtree(stats.value_index_path(p, col)),
        _sig(stats.value_index_path),
    ),
    Kind(
        "json_field_index", r"\.vidx", _json_field_indexes,
        _fold_json_field_index, _rebuild_json_field_index,
        lambda p, inst: _rmtree(stats.value_index_path(p, inst[0])),
        _sig(lambda p, inst: stats.value_index_path(p, inst[0])),
        dml="drop",
    ),
    Kind(
        "posting_index", r"\.pidx", _posting_indexes,
        _fold_posting_index, _rebuild_posting_index,
        lambda p, inst: _rmtree(stats.posting_index_path(p, inst[0])),
        _sig(lambda p, inst: stats.posting_index_path(p, inst[0])),
    ),
    Kind(
        "vector_index", r"\.knn", ivf.vector_index_dirs,
        _fold_vector_index, _rebuild_vector_index,
        lambda p, d: _remove_keeping_col_dirs(d), _sig(lambda p, d: d),
    ),
    Kind(
        "graph_index", r"\.knn-graph", hnsw.graph_index_dirs,
        _fold_graph_index, _rebuild_graph_index,
        lambda p, d: _remove_keeping_col_dirs(d), _sig(lambda p, d: d),
    ),
    Kind(
        "text_index", r"\.ftidx", lambda p: _one(ft.text_index_meta(p)),
        _fold_text_index, _rebuild_text_index,
        lambda p, _m: _rmtree(ft.text_index_path(p)),
        retry_exact=True,
    ),
    Kind(
        "vocab", r"\.vocab", lambda p: _one(vocab.vocab_meta(p)),
        _fold_vocab, _rebuild_vocab,
        lambda p, _m: _rmtree(p.rstrip("/") + ".vocab"),
        retry_exact=True,
    ),
    Kind(
        "textstats", r"\.textstats", lambda p: _one(tstats.textstats_meta(p)),
        _fold_textstats, _rebuild_textstats,
        lambda p, _m: _rmtree(tstats.textstats_path(p)),
        _sig(lambda p, _m: tstats.textstats_path(p)),
    ),
    Kind(
        "dedupsig", r"\.dedupsig", lambda p: _one(dsig.dedupsig_meta(p)),
        _fold_dedupsig, _rebuild_dedupsig,
        lambda p, _m: _rmtree(dsig.dedupsig_path(p)),
        _sig(lambda p, _m: dsig.dedupsig_path(p)),
    ),
    Kind(
        "join_projection", re.escape(proj.PROJ_SUFFIX), proj.projections_on,
        _fold_join_fact,
        lambda m, name: proj.rebuild_projection(m.spark, m.path, name),
        lambda p, name: _rmtree(proj.projection_path(p, name)),
        _restamp_join,
    ),
    Kind(
        "join_projection_dim", None, proj.projections_referencing_dim,
        _fold_join_dim,
        lambda m, inst: proj.rebuild_projection(m.spark, *inst),
        lambda p, inst: _rmtree(proj.projection_path(*inst)),
        lambda p, inst: _restamp_join(*inst),
    ),
    Kind(
        "agg_projection", re.escape(agp.AGGPROJ_SUFFIX), agp.agg_projections_on,
        _fold_agg_source,
        lambda m, name: agp.rebuild_agg_projection(m.spark, m.path, name),
        lambda p, name: _rmtree(agp.agg_projection_path(p, name)),
        _restamp_agg,
    ),
    Kind(
        "agg_projection_enrich", None, agp.agg_projections_referencing,
        _fold_agg_enrich,
        lambda m, inst: agp.rebuild_agg_projection(m.spark, *inst),
        lambda p, inst: _rmtree(agp.agg_projection_path(*inst)),
        lambda p, inst: _restamp_agg(*inst),
    ),
    Kind(
        "cohort", re.escape(cohort.COHORT_SUFFIX), lambda p: _one(cohort.cohort_meta(p)),
        _fold_cohort, _rebuild_cohort,
        lambda p, _m: _rmtree(cohort.cohort_sidecar_path(p)),
        _sig(lambda p, _m: cohort.cohort_sidecar_path(p)),
    ),
    Kind(
        "rollup", r"\.rollup(?:-[A-Za-z0-9_\-]+)?", rollup.rollup_sidecars,
        _fold_rollup, _rebuild_rollup,
        lambda p, inst: _rmtree(rollup.rollup_sidecar_path(p, inst[0])),
        _sig(lambda p, inst: rollup.rollup_sidecar_path(p, inst[0])),
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


def restamp(path: str) -> None:
    """After a rewrite that kept the table's rows (compaction), re-record
    the table signature in every artifact that carries one: its content
    is still exact, and the freshness gates would refuse it otherwise."""
    for kind in KINDS:
        if kind.restamp is not None:
            for inst in kind.instances(path):
                kind.restamp(path, inst)


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
