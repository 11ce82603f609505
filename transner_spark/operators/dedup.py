"""Deduplication operators for the training-data pipeline, over the
``documents`` (doc_id, text, ...) and ``embeddings`` (vec_id, embedding,
label) tables:

- exact dedup           : hash-groupBy on normalized text
- MinHash + LSH         : shingle → 16 minhashes → 4 bands → band-bucket
                          self-join → exact-Jaccard verify
- SimHash               : 48-bit simhash over word-2gram shingles,
                          12-bit-chunk blocking, Hamming verify
- n-gram Jaccard        : exact pairwise Jaccard inside (lang, length)
                          blocks
- embedding cosine      : near-dup pairs inside label blocks

Scale design (the point of each shape):
- every method is  *blocked*: candidate pairs come from an equi-join on a
  short key (band hash / simhash chunk / (lang, length-bucket) / label),
  never from a cross join — at 100 TB the shuffle is on the band keys,
  and the pair count stays near-linear in the corpus for non-degenerate
  data;
- signatures are computed scan-side in pure Catalyst (higher-order
  functions over token arrays — whole-stage codegen, no Python), so the
  expensive pass is embarrassingly parallel and column-pruned to
  (doc_id, text);
- the verify step (exact Jaccard / Hamming / cosine) touches only
  surviving candidates;
- degenerate hot buckets (e.g. the empty document) are the skew risk:
  AQE skew-join handling is on in the session factory, and bucket keys
  include the band/chunk INDEX so the join key space is 4× wider.

All hashes are the engine-portable h60 (functions/hashing.py), so the
DuckDB oracles in oracles.py re-derive every stage independently.

Reference parity note: the reference repo has no dedup; the nearest
relatives are its entity-dict substring dedup
(/root/reference/transner/transner/tools/panacea_tools/parser.py:101-118)
and gazetteer set semantics (ner.py:117-126). These operators are the
north-rule "training-data pipeline" extension.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from transner_spark.functions.hashing import h60
from transner_spark.operators.textops import ws_tokens

N_MINHASH = 16

# Affine minhash family over a 32-bit base hash: sig_i = (A_i·h32 + B_i)
# mod P. One md5 per shingle (16× fewer than hashing per-family) and the
# arithmetic stays below 2^63 (A < 2^31, h32 < 2^32), so both Spark and
# DuckDB compute it exactly in int64. Constants derive from md5 at import
# time — deterministic, engine-independent.
MINHASH_P = 4294967311  # smallest prime > 2^32


def _mh_params() -> tuple[tuple[int, int], ...]:
    import hashlib

    out = []
    for i in range(N_MINHASH):
        a = int(hashlib.md5(f"mh:a:{i}".encode()).hexdigest()[:15], 16)
        b = int(hashlib.md5(f"mh:b:{i}".encode()).hexdigest()[:15], 16)
        out.append((a % (2**31 - 1) + 1, b % MINHASH_P))
    return tuple(out)


MINHASH_PARAMS = _mh_params()
LSH_BANDS = 4  # 16 hashes = 4 bands x 4 rows
SIMHASH_BITS = 48
SIMHASH_CHUNKS = 4  # 4 x 12-bit blocking keys
JACCARD_THRESHOLD = 0.7
SIMHASH_HAMMING_MAX = 6  # verify bound; guaranteed recall only < SIMHASH_CHUNKS
NGRAM_JACCARD_THRESHOLD = 0.6
COSINE_THRESHOLD = 0.3


from transner_spark.functions.partitioning import fan_out  # noqa: E402


# ---------------------------------------------------------------- shingles
def word_grams(toks: Column, n: int) -> Column:
    """ALL word n-grams in document order — the ONE gram constructor
    shared by the dedup shingles and curation's repetition metrics, so
    the gram spaces cannot diverge. No dedup, no short-doc fallback:
    fewer than n tokens yields an empty array.

    Construction is ``array_join(slice(toks, i, n))`` — ONE interpreted
    node per gram. Higher-order functions run outside whole-stage
    codegen with no common-subexpression elimination, so the obvious
    ``concat_ws(element_at(toks, i+k) for k)`` shape re-evaluates the
    ``toks`` child n times PER GRAM: measured 29.4s → 3.9s for the sf0.1
    4-gram explode on one core (round-5 decontaminate hotspot). For the
    same reason callers must pass ``toks`` as a MATERIALIZED array
    column (project it first), never the raw ``split()`` expression —
    that re-split costs another ~3x."""
    return F.when(
        F.size(toks) < n, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )


def word_shingles(toks: Column, n: int) -> Column:
    """Distinct word n-gram shingles; short docs yield one whole-text
    shingle so every document lands in some bucket. Same materialized-
    column contract as word_grams."""
    return F.when(
        F.size(toks) < n, F.array(F.concat_ws(" ", toks))
    ).otherwise(F.array_distinct(word_grams(toks, n)))


def with_shingles(docs: DataFrame, n: int) -> DataFrame:
    # tokens projected into a concrete column BEFORE the gram transform
    # (the word_grams contract): keeps the split out of the interpreted
    # higher-order expression
    return docs.select(
        "doc_id", ws_tokens(F.col("text")).alias("_toks")
    ).select("doc_id", word_shingles(F.col("_toks"), n).alias("shingles"))


def _pair_jaccard(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Attach exact Jaccard over distinct shingle sets to (doc_a, doc_b)."""
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", inter / union)
    )


# ---------------------------------------------------------------- exact
def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup: h60 over whitespace-normalized lowercase text;
    the keeper of each hash group is the min doc_id. One shuffle on the
    64-bit hash (uniform — no skew beyond genuine duplicate mass)."""
    from pyspark.sql import Window

    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    w = Window.partitionBy("text_hash").orderBy("doc_id")
    return (
        docs.select("doc_id", h60(norm).alias("text_hash"))
        .withColumn("keep", F.row_number().over(w) == 1)
        .select("doc_id", "text_hash", "keep")
    )


# ---------------------------------------------------------------- minhash
def h32(col) -> F.Column:
    """32-bit md5-derived base hash (first 8 hex chars)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def minhash_signatures(docs: DataFrame, n_hashes: int = N_MINHASH) -> DataFrame:
    """doc_id → array of n_hashes minhash values over word-3gram
    shingles, via the affine family over one 32-bit base hash per
    shingle (MINHASH_PARAMS)."""
    sh = with_shingles(fan_out(docs), 3)
    # persist: each of the 16 affine transforms references h32s — without
    # the barrier Catalyst inlines the md5 pipeline into all of them
    base = sh.select(
        "doc_id",
        "shingles",
        F.transform(F.col("shingles"), h32).alias("h32s"),
    ).persist()
    def affine(a: int, b: int):
        return lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P

    sig = F.array(
        *[
            F.array_min(F.transform(F.col("h32s"), affine(a, b)))
            for a, b in MINHASH_PARAMS[:n_hashes]
        ]
    )
    return base.select("doc_id", "shingles", sig.alias("sig"))


def lsh_band_keys(sigs: DataFrame, bands: int = LSH_BANDS) -> DataFrame:
    """Explode signatures into (doc_id, band_idx, band_key) rows; the
    band key hashes the band's rows joined as text."""
    rows = N_MINHASH // bands
    band = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band_idx"),
                h60(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(F.col("sig"), b * rows + 1, rows),
                            lambda v: v.cast("string"),
                        ),
                    )
                ).alias("band_key"),
            ),
        )
    )
    return sigs.select("doc_id", band.alias("b")).select(
        "doc_id", "b.band_idx", "b.band_key"
    )


def _pairs_from_sigs(sigs: DataFrame, threshold: float) -> DataFrame:
    """Band-collision candidates + exact-Jaccard verify over a
    (doc_id, shingles, sig) frame. Shared by the full and incremental
    minhash paths so their pair semantics cannot drift."""
    bandsa = lsh_band_keys(sigs).alias("a")
    bandsb = lsh_band_keys(sigs).alias("b")
    cand = (
        bandsa.join(
            bandsb,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    verified = _pair_jaccard(cand, sigs.select("doc_id", "shingles"))
    return verified.where(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


def dedup_minhash_lsh(
    docs: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """MinHash-LSH near-dup pairs: candidates collide in ≥1 band; the
    verify pass computes exact Jaccard on the shingle sets and keeps
    pairs ≥ threshold. Returns (doc_a, doc_b, jaccard)."""
    # Materialize signatures once: Catalyst inlines the (16 × |shingles|
    # md5) sig expression into EVERY downstream reference (band structs,
    # both join sides, the verify pass) — no common-subexpression reuse
    # through higher-order functions, measured 30×+ recompute at sf0.1.
    # At warehouse scale this persist becomes a signatures table write.
    sigs = minhash_signatures(docs).persist()
    return _pairs_from_sigs(sigs, threshold)


def dedup_minhash_incremental(
    old_docs: DataFrame | None,
    new_docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    old_sigs: DataFrame | None = None,
    old_pairs: DataFrame | None = None,
) -> DataFrame:
    """Continuous-ingest dedup maintenance: merge a NEW batch of docs
    into an already-deduped corpus without re-fingerprinting the corpus.

    The algebra (the gate proves it value-level): pair sets partition
    cleanly by who is involved —

        pairs(old ∪ new) = pairs(old)  ∪  pairs_touching_new

    because band-collision candidacy and Jaccard verification are both
    pure pair-local predicates. ``pairs(old)`` is the maintained pair
    table (recomputed here only because the gate takes raw inputs — a
    production run reads it, plus the old signature table, from
    storage); ``pairs_touching_new`` joins the NEW docs' band keys
    against the full band table, so the per-batch cost scales with
    |new| × collision fan-in, never |corpus|² nor even |corpus| shingle
    hashing. This is the trainops twin of merge_edge_increments
    (operators/materialize.py): same commutative-merge shape, same
    full-recompute oracle.

    Caller contract: old/new doc_id sets are disjoint (an ingest batch
    is new by construction), which keeps the union duplicate-free since
    every incremental pair touches ≥1 new doc.

    Production plug points (review r4): pass ``old_sigs`` (the
    maintained signature table: doc_id, shingles, sig) and
    ``old_pairs`` (the maintained pair table) to skip re-fingerprinting
    and re-pairing the corpus — then ``old_docs`` may be None and the
    per-batch cost really is |new|-proportional. When they are omitted
    (the raw-input gate path), both are recomputed from ``old_docs``.
    Persist lifecycle: frames persisted here stay pinned for the
    session (the returned plan reads them lazily, so this function
    cannot unpersist); a long-lived ingest loop should pass the
    precomputed tables and manage its own storage — at warehouse scale
    both are real tables, not block-manager entries."""
    if old_sigs is None:
        if old_docs is None:
            raise ValueError(
                "dedup_minhash_incremental needs old_docs or old_sigs"
            )
        old_sigs = minhash_signatures(old_docs).persist()
    new_sigs = minhash_signatures(new_docs).persist()
    if old_pairs is None:
        old_pairs = _pairs_from_sigs(old_sigs, threshold)

    all_sigs = old_sigs.unionByName(new_sigs)
    nb = lsh_band_keys(new_sigs).alias("n")
    mb = lsh_band_keys(all_sigs).alias("m")
    cand = (
        nb.join(
            mb,
            (F.col("n.band_idx") == F.col("m.band_idx"))
            & (F.col("n.band_key") == F.col("m.band_key"))
            & (F.col("n.doc_id") != F.col("m.doc_id")),
        )
        .select(
            F.least("n.doc_id", "m.doc_id").alias("doc_a"),
            F.greatest("n.doc_id", "m.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    inc = _pair_jaccard(cand, all_sigs.select("doc_id", "shingles"))
    inc = inc.where(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )
    return old_pairs.unionByName(inc)


# ---------------------------------------------------------------- simhash
def simhash(docs: DataFrame, nbits: int = SIMHASH_BITS) -> DataFrame:
    """48-bit SimHash over word-2gram shingles. The bit-j vote sums
    ±1 per shingle by shingle-hash bit j; ties round to 1. Expressed as
    nested SQL ``aggregate`` so the bit shift can take the lambda
    variable (the python F.shiftright API only takes int literals)."""
    sh = with_shingles(fan_out(docs), 2)
    # persist: the 48 per-bit inner aggregates each reference th — without
    # a materialization barrier Catalyst inlines the shingle+md5 pipeline
    # into every bit's aggregate (48× recompute; measured ~18× wall at
    # sf0.1). At warehouse scale th is a signatures table.
    th = sh.select(
        "doc_id", F.transform(F.col("shingles"), h60).alias("th")
    ).persist()
    sim_expr = f"""
        aggregate(sequence(0, {nbits - 1}), CAST(0 AS BIGINT),
          (acc, j) -> acc * 2 + (CASE WHEN
            aggregate(th, CAST(0 AS BIGINT),
                      (a, h) -> a + (shiftright(h, j) & 1) * 2 - 1) >= 0
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END))
    """
    return th.select("doc_id", F.expr(sim_expr).alias("simhash"))


def dedup_simhash(
    docs: DataFrame, hamming_max: int = SIMHASH_HAMMING_MAX
) -> DataFrame:
    """SimHash near-dup pairs: block on each of the 4 12-bit chunks,
    verify with bit_count(xor). Returns (doc_a, doc_b, hamming).

    Recall guarantee: pigeonhole makes collision certain only for
    hamming < SIMHASH_CHUNKS (≤3 differing bits cannot touch all 4
    chunks); pairs at hamming 4..hamming_max are found only when their
    differing bits leave some chunk clean — the standard simhash
    blocking tradeoff (raise chunk count for a stronger guarantee at
    the price of hotter, shorter keys). The DuckDB oracle replicates
    the identical blocking, so the gate checks the implemented
    semantics, not perfect recall."""
    # persist for the same expression-inlining reason as dedup_minhash_lsh
    sim = simhash(docs).persist()
    chunks = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.shiftright(F.col("simhash"), 12 * c)
                        .bitwiseAND(F.lit(4095))
                        .alias("chunk_key"),
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", "c.chunk_idx", "c.chunk_key")
    a, b = chunks.alias("a"), chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_key") == F.col("b.chunk_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.where(F.col("hamming") <= hamming_max).select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


MAX_BLOCK_ROWS = 10_000  # quadratic-baseline guard (see _block_guard)


def _block_guard(
    blocked: DataFrame,
    block_col: str,
    max_block_rows: int,
    op: str,
    twin: str,
    knob: str = "max_block_rows",
) -> DataFrame:
    """Fail-loud cap for the exact (quadratic-within-block) baselines:
    any block larger than ``max_block_rows`` raises AT EXECUTION TIME
    with a pointer to the LSH twin, instead of silently scheduling an
    O(n²/b) pair explosion at scale (VERDICT r1 item 5).

    The guard lives inside the plan — a count window over the block key
    (co-partitioned with the self-join that follows, so the shuffle is
    shared) feeding ``raise_error`` inside a filter predicate, which
    Catalyst cannot prune. No extra driver job."""
    from pyspark.sql import Window

    # NULL block keys are exempt: the null-unsafe self-join equality can
    # never pair them, so a large unlabeled population is harmless and
    # must not abort the job.
    n = F.when(F.col(block_col).isNull(), F.lit(0)).otherwise(
        F.count(F.lit(1)).over(Window.partitionBy(block_col))
    )
    msg = F.concat(
        F.lit(
            f"{op}: block exceeds {knob}={max_block_rows} "
            f"(quadratic verify would explode at scale) — use {twin} "
            f"or raise {knob}; block="
        ),
        F.col(block_col).cast("string"),
        F.lit(" rows="),
        F.col("_bn").cast("string"),
    )
    return (
        blocked.withColumn("_bn", n)  # window materialized BEFORE the filter
        .where(
            F.when(F.col("_bn") > max_block_rows, F.raise_error(msg)).otherwise(
                F.lit(True)
            )
        )
        .drop("_bn")
    )


# ---------------------------------------------------------------- jaccard
def dedup_ngram_jaccard(
    docs: DataFrame,
    threshold: float = NGRAM_JACCARD_THRESHOLD,
    max_block_rows: int = MAX_BLOCK_ROWS,
) -> DataFrame:
    """Exact word-2gram Jaccard inside (lang, length-bucket) blocks —
    the non-probabilistic baseline the sketch methods are judged
    against. Quadratic only within a block; blocks beyond
    ``max_block_rows`` fail loudly (dedup_minhash_lsh is the scale
    path)."""
    sh = with_shingles(docs, 2)
    blocked = docs.select(
        "doc_id",
        F.struct(
            "lang", F.floor(F.size(ws_tokens(F.col("text"))) / 20).alias("lb")
        ).alias("block"),
    )
    blocked = _block_guard(
        blocked, "block", max_block_rows, "dedup_ngram_jaccard",
        "dedup_minhash_lsh (the LSH scale path)",
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    pairs = a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    verified = _pair_jaccard(pairs, sh)
    return verified.where(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


# ---------------------------------------------------------------- clusters
def dedup_clusters(docs: DataFrame) -> DataFrame:
    """Cluster-level dedup: MinHash-LSH near-dup pairs → connected
    components → one keeper per cluster (the minimum doc_id). Returns
    (doc_id, cluster_id, keep) for EVERY document (singletons are their
    own cluster).

    This is the keeper-selection step a corpus dedup actually ships:
    pair lists alone over-delete (A~B, B~C must not drop both B and C
    against different keepers). Reuses the general iterative
    connected-components operator (canonicalize.connected_components) —
    near-dup graphs are shallow, so the loop converges in a few rounds;
    the DuckDB oracle re-derives the components with a recursive CTE."""
    from transner_spark.operators.canonicalize import connected_components

    pairs = dedup_minhash_lsh(docs)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    selfs = docs.select(
        F.col("doc_id").alias("src"), F.col("doc_id").alias("dst")
    )
    cc = connected_components(edges.unionByName(selfs))
    return cc.select(
        F.col("node_id").cast("long").alias("doc_id"),
        F.col("canon_id").cast("long").alias("cluster_id"),
    ).withColumn("keep", F.col("doc_id") == F.col("cluster_id"))


# ---------------------------------------------------------------- cosine
def _dot(a: Column, b: Column) -> Column:
    """Sequential-order double dot product (bit-identical to the DuckDB
    oracle's list_reduce — do not replace with a commutative agg)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dedup_embedding_cosine_lsh(
    spark,
    embeddings: DataFrame,
    threshold: float = COSINE_THRESHOLD,
    dim: int | None = None,
) -> DataFrame:
    """Scale path for embedding near-dup: candidates share a
    random-hyperplane LSH bucket in ≥1 table (simsearch.lsh_buckets —
    no reliance on a precomputed label), verified by exact cosine.
    Same blocked-equi-join shape as the sketch dedups: at 100 TB the
    shuffle is on (table, bucket) keys and the pair count stays
    near-linear for non-degenerate data; recall is tuned by (L, k).
    ``dim`` plumbs the hyperplane dimensionality to lsh_buckets for
    non-default-dim embeddings (its in-plan guard fails loud on a
    mismatch)."""
    from transner_spark.operators.simsearch import DIM, lsh_buckets

    buckets = lsh_buckets(spark, embeddings, dim=dim or DIM).persist()
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
    )
    e = embeddings.select(
        "vec_id",
        F.col("embedding").alias("emb"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    ea = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    eb = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cos = _dot(F.col("emb_a"), F.col("emb_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("cosine", cos)
        .where(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )


def dedup_embedding_cosine(
    embeddings: DataFrame,
    threshold: float = COSINE_THRESHOLD,
    max_block_rows: int = MAX_BLOCK_ROWS,
) -> DataFrame:
    """Embedding near-dup pairs: label blocks (the coarse cluster id that
    ships with the table) → within-block cosine ≥ threshold. The scale
    path without a label column is dedup_embedding_cosine_lsh; label
    blocks beyond ``max_block_rows`` fail loudly."""
    e = embeddings.select(
        "vec_id",
        "label",
        F.col("embedding").alias("emb"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    e = _block_guard(
        e, "label", max_block_rows, "dedup_embedding_cosine",
        "dedup_embedding_cosine_lsh (the LSH scale path)",
    )
    a, b = e.alias("a"), e.alias("b")
    cos = _dot(F.col("a.emb"), F.col("b.emb")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            cos.alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "label", F.round("cosine", 6).alias("cosine"))
    )


# ---------------------------------------------------------------- substring
SUBSTR_K = 20            # exact-match window width (chars, normalized)
SUBSTR_MAX_DOCS = 64     # fail-loud cap: docs sharing one window


def substring_windows(
    docs: DataFrame, k: int = SUBSTR_K, sample_mod: int = 1
) -> DataFrame:
    """(doc_id, win): every distinct k-char window of the whitespace-
    normalized lowercase text — the fingerprint set behind exact
    substring-overlap dedup (the "train-data dedup by long exact match"
    family: two docs share a window IFF they share an exact substring of
    length >= k, so the join key is the substring ITSELF and no hash-
    collision verify step exists). Docs shorter than k contribute
    nothing (guarded: Spark's sequence() runs DESCENDING when stop <
    start, which would silently fabricate windows).

    The normalized text is materialized into a column before the window
    transform and the explode is outer + NULL-filtered — both for the
    interpreted-lambda / inferred-filter reasons documented on
    word_grams and exploded_tokens.

    ``sample_mod=p > 1`` keeps only windows with h60(win) % p == 0 —
    the sampling knob for 100 TB corpora where len(text) rows per doc
    is too dense: both docs keep or drop a window IDENTICALLY (the
    decision hashes the content), so sampling never creates asymmetric
    misses; a shared substring of length L >= k carries L-k+1 windows
    and survives with probability ~1-(1-1/p)^(L-k+1) — choose p <<
    L_target - k. Exact (p=1) is the gate/baseline configuration."""
    if k < 2:
        raise ValueError(f"window width k must be >= 2, got {k}")
    if sample_mod < 1:
        raise ValueError(f"sample_mod must be >= 1, got {sample_mod}")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    wins = F.when(
        F.length(F.col("_norm")) < k, F.array().cast("array<string>")
    ).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(F.col("_norm")) - (k - 1)),
                lambda i: F.col("_norm").substr(i, F.lit(k)),
            )
        )
    )
    out = (
        docs.select("doc_id", norm.alias("_norm"))
        .select("doc_id", F.explode_outer(wins).alias("win"))
        .where(F.col("win").isNotNull())
    )
    if sample_mod > 1:
        out = out.where(F.pmod(h60(F.col("win")), F.lit(sample_mod)) == 0)
    return out


def dedup_substring(
    docs: DataFrame,
    k: int = SUBSTR_K,
    max_docs_per_window: int = SUBSTR_MAX_DOCS,
    sample_mod: int = 1,
) -> DataFrame:
    """(doc_a, doc_b, n_shared_windows): document pairs sharing at least
    one exact substring of length >= ``k`` normalized chars, with the
    count of distinct shared windows (a lower-bound proxy for how much
    text the pair shares — L shared chars ≈ L - k + 1 shared windows).
    The exact-substring complement of the token-set methods: minhash/
    jaccard score BAG overlap and miss verbatim boilerplate embedded in
    otherwise-different documents; this finds exactly that.

    Shape: one narrow window map + explode, ONE shuffle on the window
    value, self-join per window, one pair agg. The self-join is
    quadratic per window by construction, so a window shared by more
    than ``max_docs_per_window`` docs fails LOUD in-plan
    (the _block_guard posture; boilerplate that common is a corpus
    problem to fix upstream, not a pair list to materialize), and
    ``sample_mod`` (see substring_windows) is the density knob at
    100 TB scale — fan_out keeps an under-partitioned corpus from
    serializing the window construction."""
    from transner_spark.functions.partitioning import fan_out

    w = substring_windows(fan_out(docs), k, sample_mod)
    guarded = _block_guard(
        w,
        "win",
        max_docs_per_window,
        "dedup_substring",
        "dedup_substring(sample_mod=p) or upstream boilerplate removal",
        knob="max_docs_per_window",
    )
    a = guarded.select(F.col("doc_id").alias("doc_a"), "win")
    b = guarded.select(F.col("doc_id").alias("doc_b"), "win")
    return (
        a.join(b, "win")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_windows"))
    )
