"""Entity linking on Spark: exact match + n-gram Jaccard fuzzy match
against the alias dictionary, in one ``mapInArrow`` pass.

Scale design:
- linking operates on DISTINCT normalized surfaces, not raw mentions —
  the distinct is the pipeline's first shuffle and collapses the Zipfian
  mention distribution (the hot "mario rossi" key becomes ONE row), which
  is itself the skew mitigation for this stage;
- the alias dictionary is small enough for every Python worker: the
  linker reads ``kernels/linking.alias_index``, built on the driver from
  the dictionary rows with no Spark job (an ``alias_dim`` override is
  collected once with ``toArrow`` into ``build_index``), and the index
  travels in the task closure (PySpark broadcasts a command over 1 MB
  by itself);
- the surfaces are spread round-robin over defaultParallelism tasks,
  each linking its Arrow batches with ``kernels/linking.link_norms``,
  the one implementation of the rules (``link_one`` and the oracle call
  it too): no join, no window, no checkpoint;
- normalization of alias surfaces (accent strip etc.) happens driver-side
  with the SAME kernel function mentions were normalized with
  (kernels/triples.normalize_surface), so keys agree bit-for-bit;
- mention grams and alias grams both come from
  ``kernels/linking.char_ngrams``; ``with_grams``, its Catalyst twin,
  serves ``_affected_surfaces``.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transner_spark.config import PipelineConfig
from transner_spark.data.aliases import ensure_alias_dim_parquet
from transner_spark.kernels.linking import alias_index, build_index, link_norms
from transner_spark.kernels.oracle import LINK_COLUMNS, STRUCTURAL_TYPES

_LINK_SCHEMA = "norm_key string, entity_key string, score double, method string"
_LINK_TYPE = pa.struct(
    [("entity_key", pa.string()), ("score", pa.float64()), ("method", pa.string())]
)


def node_surfaces(triples: DataFrame) -> DataFrame:
    """Distinct non-structural normalized node surfaces.

    Single scan: subj and obj are emitted from ONE pass over the triples
    (explode of a 2-element array, structural slots nulled) instead of a
    union of two filtered projections — the union shape read the
    (cached, array-heavy) triples table twice per execution."""
    structural = list(STRUCTURAL_TYPES)
    # nulls/empties are stripped INSIDE the array expression (not by a
    # row filter after the explode): a plan-level filter can be
    # reordered around downstream deterministic UDF projections by the
    # optimizer (observed: a pyspark.ml HashingTF NPEing on a null key
    # in a join plan), while an expression-level filter guarantees no
    # stage ever materializes a null norm_key
    keys = F.filter(
        F.array(
            F.when(~F.col("subj_type").isin(structural), F.col("subj_norm")),
            F.when(~F.col("obj_type").isin(structural), F.col("obj_norm")),
        ),
        lambda x: x.isNotNull() & (x != ""),
    )
    return triples.select(F.explode(keys).alias("norm_key")).distinct()


_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def exact_alias_dim(spark: SparkSession) -> DataFrame:
    """norm_alias → min entity_key over the canonical dictionary parquet
    (the rule ``kernels/linking.build_index`` applies). A plain builder:
    the linker does not read it; ``perfbench/run.setup`` counts it."""
    return (
        spark.read.parquet(ensure_alias_dim_parquet(_REPO))
        .groupBy(F.col("norm").alias("norm_alias"))
        .agg(F.min("entity_key").alias("entity_key"))
    )


def alias_gram_dim(spark: SparkSession, n: int) -> DataFrame:
    """One row per canonical alias and gram (``with_grams``). A plain
    builder: the linker does not read it; ``perfbench/run.setup`` counts it."""
    return with_grams(
        spark.read.parquet(ensure_alias_dim_parquet(_REPO)), "norm", n
    ).select("alias_id", "entity_key", "alias", F.explode("grams").alias("gram"))


def with_grams(df: DataFrame, src_col: str, n: int) -> DataFrame:
    """Adds ``grams`` (array<string>, distinct) and ``n_grams`` — pure
    Catalyst equivalent of kernels/linking.char_ngrams."""
    df = df.withColumn("_padded", F.concat(F.lit("^"), F.col(src_col), F.lit("$")))
    grams = F.when(
        F.length("_padded") < n, F.array(F.col("_padded"))
    ).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length("_padded") - (n - 1)),
                lambda i: F.col("_padded").substr(i, F.lit(n)),
            )
        )
    )
    return (
        df.withColumn("grams", grams)
        .withColumn("n_grams", F.size("grams"))
        .drop("_padded")
    )


def link_surfaces(
    spark: SparkSession,
    surfaces: DataFrame,
    cfg: PipelineConfig | None = None,
    alias_dim: DataFrame | None = None,
) -> DataFrame:
    """surfaces(norm_key) → links(norm_key, entity_key, score, method).
    ``alias_dim`` (alias_id, entity_key, alias, type, norm) overrides
    the canonical dictionary — the plug point the alias-delta
    maintenance path (``relink_for_alias_delta``) uses to link against
    a base/updated dictionary; its rows are collected once per call."""
    cfg = cfg or PipelineConfig()
    if alias_dim is None:
        index = alias_index(cfg.link_ngram)
    else:
        rows = alias_dim.select("entity_key", "alias", "norm").toArrow().to_pydict()
        index = build_index(
            zip(rows["entity_key"], rows["alias"], rows["norm"]), cfg.link_ngram
        )
    threshold = cfg.link_jaccard_threshold

    def link(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            norms = batch.column(0)
            links = link_norms(norms.to_pylist(), index, threshold)
            yield pa.RecordBatch.from_arrays(
                [norms, *pa.array(list(links), _LINK_TYPE).flatten()],
                names=LINK_COLUMNS,
            )

    # round-robin, not on norm_key: a same-key repartition after
    # node_surfaces' distinct is dropped as redundant, and AQE then
    # coalesces that small shuffle into one task
    return (
        surfaces.select("norm_key")
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInArrow(link, _LINK_SCHEMA)
    )


def link_surfaces_incremental(
    spark: SparkSession,
    known_links: DataFrame,
    new_surfaces: DataFrame,
    cfg: PipelineConfig | None = None,
    alias_dim: DataFrame | None = None,
) -> DataFrame:
    """Continuous-ingest twin of ``link_surfaces``: given the previously
    materialized link table and a new batch's surfaces, link ONLY the
    surfaces the table has never seen and union the rest through.

    Why this is the right asymptote: linking operates on DISTINCT
    normalized surfaces, and the surface distribution is Zipfian — a
    steady-state ingest batch contributes almost no new vocabulary, so
    the anti-join residual (the only rows that pay the gram-index pass)
    is a sliver of the batch and utterly dwarfed by the maintained
    table. Per-batch cost is O(new vocabulary), never O(corpus
    vocabulary) — the same incremental contract as
    ``merge_edge_increments`` (weights) and ``entity_profile_partials``
    (serving view), closing the last pipeline stage without an
    incremental twin.

    Correctness: each surface links independently against the STATIC
    alias dimension (no cross-surface interaction anywhere in
    ``link_surfaces``), so incremental ≡ full recompute exactly —
    ``alias_dim`` MUST be the same dictionary ``known_links`` was
    built with (pass it through when the table was built with an
    override; a dictionary change is ``relink_for_alias_delta``'s
    job, not this one's) — the
    kg_links_incremental gate pins the union against the whole-corpus
    SQL derivation. If the alias DIM itself changes, that is the
    two-speed refresh path (re-link affected surfaces, then
    ``reresolve_edges`` — operators/materialize.py), not this.

    Plan shape: one left-anti join on norm_key (the maintained table's
    natural key) + the normal dim-sized linking pass over the residual;
    the known side streams through untouched.
    """
    fresh = (
        new_surfaces.select("norm_key")
        .distinct()
        .join(known_links.select("norm_key"), "norm_key", "left_anti")
    )
    return known_links.unionByName(
        link_surfaces(spark, fresh, cfg, alias_dim=alias_dim)
    )


def _affected_surfaces(
    known_links: DataFrame,
    alias_delta: DataFrame,
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """The surfaces whose link result CAN involve a newly appended
    alias: exactly those sharing at least one character n-gram with a
    delta alias's norm. This is sound and complete for appends —

    - a fuzzy candidacy needs Jaccard > 0, i.e. >= 1 shared gram;
    - an exact match is norm equality, which implies an identical
      padded gram set (with_grams emits the whole padded string as the
      single gram for norms shorter than n, so equal norms always share
      a gram);

    so any surface with NO gram overlap has a bit-identical candidate
    set and winner under the base and the appended dictionary. The
    delta gram set is dictionary-delta-sized and broadcast; the
    surface side is the maintained vocabulary, one Catalyst gram pass,
    no Python."""
    cfg = cfg or PipelineConfig()
    n = cfg.link_ngram
    delta_grams = (
        with_grams(alias_delta.select("norm").distinct(), "norm", n)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    surf_grams = with_grams(
        known_links.select("norm_key").distinct(), "norm_key", n
    ).select("norm_key", F.explode("grams").alias("gram"))
    return (
        surf_grams.join(F.broadcast(delta_grams), "gram")
        .select("norm_key")
        .distinct()
    )


def relink_for_alias_delta(
    spark: SparkSession,
    known_links: DataFrame,
    alias_delta: DataFrame,
    cfg: PipelineConfig | None = None,
    alias_dim: DataFrame | None = None,
) -> DataFrame:
    """Dictionary-append maintenance — the alias-dim side of the
    two-speed refresh story (the canon side is
    operators/materialize.reresolve_edges): when new aliases are
    APPENDED to the broadcast dictionary, re-link ONLY the surfaces
    whose result can involve them (``_affected_surfaces`` — gram
    overlap, a sound superset) against the UPDATED dictionary
    (``alias_dim``; None = the canonical parquet, i.e. the delta is
    already merged into it), and stream every other link row through
    untouched. Per-refresh cost is O(affected vocabulary), never
    O(corpus vocabulary) — the kg_links_alias_refresh gate pins
    base-link → append → re-link ≡ full recompute against the
    whole-corpus SQL derivation.

    Appends only: deleting or re-pointing an existing alias can
    invalidate links to surfaces with no gram overlap against the
    CHANGED row's replacement winner only through that row itself, so
    removals need alias-provenance on the link table (store the winning
    alias_id) — out of scope here, fail-safe is a full re-link."""
    # two consumers (the re-link pass and the kept anti-join): a
    # localCheckpoint barrier, so the corpus-vocabulary gram pass runs
    # once, not once per consumer
    affected = _affected_surfaces(known_links, alias_delta, cfg).localCheckpoint()
    relinked = link_surfaces(spark, affected, cfg, alias_dim=alias_dim)
    kept = known_links.join(affected, "norm_key", "left_anti")
    return kept.unionByName(relinked)
