"""Corpus-curation operators for LLM training-data pipelines, over the
``documents`` table (doc_id, text, lang, source, n_chars): eval-set
decontamination, stratified quota sampling, and intra-document
repetition metrics.

These are the curation steps that sit between dedup (operators/dedup.py)
and training: drop documents that leak the eval benchmark
(`decontaminate` — the n-gram-overlap test the GPT-3/PaLM reports
describe), rebalance over-represented groups deterministically
(`sample_quota` — data mixing), and score pathological self-repetition
(`doc_repetition` — the Gopher duplicate-n-gram heuristics).

Scale postures:

- `decontaminate`: the eval set is benchmark-sized (a dim), so its
  distinct gram vocabulary BROADCASTS; the 100 TB train side pays one
  narrow shingle map + explode and ONE hash agg keyed by doc_id — no
  rejoin (per-doc totals ride the same agg as the hit counts).
- `sample_quota`: exact per-group rank WITHOUT a data-scaled per-group
  window (a hot group would otherwise be one giant frame). The md5 sort
  key is split into 256 CONTIGUOUS hex-prefix buckets; rank within
  (group, bucket) — bounded frames — plus per-group bucket offsets from
  a constant-size prefix-sum inequality join (the negatives.entity_index
  two-level idiom, generalized by group).
- `doc_repetition`: pure narrow map, zero shuffles — per-doc run-length
  fold over the SORTED n-gram array (O(n log n) per doc), so at 100 TB
  the job is scan-bound like the rest of textops. The DuckDB oracle
  derives the same stats the independent way (unnest + GROUP BY).
- `pack_sequences`: the one op here with a genuine sequential recurrence
  (greedy bin rollover), so it runs as applyInPandas per hash shard —
  but over METADATA only (doc_id, token count, order key); the text
  never moves, and `n_shards` bounds per-executor state.

All ratios are exact-int numerators/denominators with ONE IEEE division
rounded at 6 — the engine-stable shape the gate hashing requires.

Cited parity: the reference repo's scope ends at NER; these extend the
training-data surface (SURVEY §2 training-data ops) like dedup/ANN do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from transner_spark.functions.hashing import h60
from transner_spark.operators.dedup import with_shingles, word_grams
from transner_spark.operators.textops import ws_tokens

DECON_NGRAM = 4  # word n-gram width for contamination matching
EVAL_MOD = 10  # deterministic eval split: h60('eval:'||doc_id) % 10 == 0

QUOTA_PER_GROUP = 60
# md5 hex-prefix width defining the contiguous sort-key buckets: 16^w
# buckets (2 → 256). THE bucketing knob — the substring below reads it,
# so widening it for hotter groups actually takes effect.
QUOTA_BUCKET_HEX = 2

REPETITION_NGRAM = 2


def eval_split(docs: DataFrame, mod: int = EVAL_MOD) -> Column:
    """Boolean eval-membership column: a deterministic ~1/mod hash split
    of doc_id, so the same document lands on the same side in every run
    and in the DuckDB oracle. A NULL doc_id fails LOUD in-plan (the
    _shard_cols posture): a NULL split column would otherwise drop the
    document from BOTH sides of decontaminate's where(ev)/where(~ev)
    pair, silently leaking it past decontamination."""
    return F.when(
        F.col("doc_id").isNull(),
        F.raise_error(
            F.lit("eval_split: NULL doc_id cannot be split")
        ).cast("boolean"),
    ).otherwise(
        F.pmod(h60(F.concat(F.lit("eval:"), F.col("doc_id").cast("string"))),
               F.lit(mod))
        == 0
    )


def decontaminate(
    train: DataFrame, eval_docs: DataFrame, n: int = DECON_NGRAM
) -> DataFrame:
    """(doc_id, n_grams, n_hit_grams, contaminated): for each TRAIN
    document, how many of its distinct word n-grams appear anywhere in
    the eval set — n_hit_grams > 0 marks the document as leaking eval
    content and a curation pass drops or flags it.

    The eval grams are a broadcast dim (benchmarks are small); the train
    side explodes its distinct shingles and aggregates ONCE per doc_id,
    counting total and hit grams in the same agg (no rejoin). Short docs
    contribute their whole text as one shingle (with_shingles), so every
    document gets a row. The train side is fan_out-repartitioned before
    shingling (the CPU-heavy stage — same posture as the minhash/jaccard
    dedups) so an under-partitioned corpus file doesn't serialize it."""
    from transner_spark.functions.partitioning import fan_out

    # explode_OUTER on purpose: plain explode makes Catalyst infer a
    # `size(shingles) > 0` filter and push it below the projections,
    # INLINING the whole gram transform a second time (measured ~3.5x on
    # the sf0.1 corpus). word_shingles guarantees >= 1 element per doc
    # (short docs get the whole-text shingle), so the inferred filter is
    # vacuous and outer explode is row-identical — minus the double
    # construction.
    ev = (
        with_shingles(eval_docs, n)
        .select(F.explode_outer("shingles").alias("gram"))
        .where(F.col("gram").isNotNull())
        .distinct()
        .withColumn("hit", F.lit(1).cast("long"))
    )
    ex = with_shingles(fan_out(train), n).select(
        "doc_id", F.explode_outer("shingles").alias("gram")
    ).where(F.col("gram").isNotNull())
    return (
        ex.join(F.broadcast(ev), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias(
                "n_hit_grams"
            ),
        )
        .withColumn("contaminated", F.col("n_hit_grams") > 0)
    )


def _bucket_offsets(
    bc: DataFrame, measure: str, null_safe: bool
) -> DataFrame:
    """(o_grp, o_b, off): per-(group, bucket) prefix-sum offsets over a
    dim-sized (grp, b, <measure>) bucket-stats frame — the broadcast
    inequality join both samplers (and negatives.entity_index) build
    their global in-group positions from: off(g, b) = Σ measure over
    (g, b' < b). |groups| x 256² comparisons, constant in corpus size.
    ``null_safe=True`` treats a NULL group as a group like any other
    (sample_quota's contract — an equi-join would discard it, at the
    cost of forfeiting IsNotNull pushdown); pass False when the caller
    has already filtered NULL groups out."""
    prior = bc.select(
        F.col("grp").alias("grp_p"), F.col("b").alias("b_p"),
        F.col(measure).alias("c_p"),
    )
    same_grp = (
        F.col("grp_p").eqNullSafe(F.col("grp"))
        if null_safe
        else (F.col("grp_p") == F.col("grp"))
    )
    return (
        bc.join(
            F.broadcast(prior), same_grp & (F.col("b_p") < F.col("b")), "left"
        )
        .groupBy("grp", "b")
        .agg(F.coalesce(F.sum("c_p"), F.lit(0)).cast("long").alias("off"))
        .select(F.col("grp").alias("o_grp"), F.col("b").alias("o_b"), "off")
    )


def sample_quota(
    docs: DataFrame,
    group_col: str = "lang",
    quota: int = QUOTA_PER_GROUP,
    bucket_hex: int = QUOTA_BUCKET_HEX,
) -> DataFrame:
    """(doc_id, <group_col>, sample_rank): keep at most ``quota``
    documents per group, chosen by md5-of-doc_id order — a reproducible
    uniform subsample for data mixing (downsample the over-represented
    language/domain, keep small groups whole).

    Exact per-group rank with NO data-scaled per-group window: the md5
    sort key's first hex byte defines 256 CONTIGUOUS buckets, rank runs
    within (group, bucket) — frames of ~|group|/256 rows — and the
    global in-group rank is bucket offset + in-bucket rank, offsets from
    a prefix-sum inequality join over the (group, bucket) stats table
    (dim-sized: |groups| x 256 rows, broadcastable). The DuckDB oracle
    uses the plain global-window formulation — an independent derivation
    of the same ranks.

    A NULL group is a group like any other (the oracle's window treats
    it as one partition), so the offset joins are null-safe — an
    equi-join would silently discard every NULL-group document."""
    key = F.md5(
        F.concat(F.lit("sq:"), F.col("doc_id").cast("string")).cast("binary")
    )
    d = docs.select(
        "doc_id", F.col(group_col).alias("grp"), key.alias("k")
    ).withColumn(
        "b", F.conv(F.substring("k", 1, bucket_hex), 16, 10).cast("int")
    )
    rn_w = Window.partitionBy("grp", "b").orderBy("k", "doc_id")
    ranked = d.withColumn("rn", F.row_number().over(rn_w))
    # bucket count = max in-bucket rank, derived from the RANKED frame so
    # the bucket-stats branch reuses the window's exchange (ReuseExchange
    # dedupes the scan+shuffle) instead of re-scanning the corpus
    bc = ranked.groupBy("grp", "b").agg(F.max("rn").alias("c"))
    offsets = _bucket_offsets(bc, "c", null_safe=True)
    return (
        ranked.join(
            F.broadcast(offsets),
            F.col("grp").eqNullSafe(F.col("o_grp"))
            & (F.col("b") == F.col("o_b")),
        )
        .withColumn(
            "sample_rank", (F.col("off") + F.col("rn")).cast("long")
        )
        .where(F.col("sample_rank") <= quota)
        .select("doc_id", F.col("grp").alias(group_col), "sample_rank")
    )


# Data-mixing targets: integer percents per group (the mixture the
# training run wants), plus what fraction of the corpus' total tokens
# the resampled set may use. Integers keep every budget computation
# exact (engine-stable gate hashes).
MIXTURE_TARGETS: dict[str, int] = {
    "en": 40, "de": 15, "es": 15, "fr": 15, "zh": 15,
}
MIXTURE_COVERAGE_PCT = 50


def sample_to_mixture(
    docs: DataFrame,
    targets: dict[str, int] | None = None,
    coverage_pct: int = MIXTURE_COVERAGE_PCT,
    group_col: str = "lang",
    bucket_hex: int = QUOTA_BUCKET_HEX,
) -> DataFrame:
    """(doc_id, <group_col>, n_tokens, cum_tokens): resample the corpus
    to a target group mixture — the data-mixing step that turns "40% en,
    15% each of de/es/fr/zh, half the tokens overall" into a concrete,
    reproducible document set. Per group g the token budget is
    ``total_tokens * pct_g * coverage_pct div 10000`` (exact integer
    arithmetic; total_tokens = the TARGET UNIVERSE's token sum — groups
    outside ``targets``, including NULL, are excluded by design and
    don't count toward the base). Docs are taken in md5-rank order
    while their cumulative tokens stay within the group budget.

    Same no-giant-window scheme as sample_quota, lifted from rank to
    CUMULATIVE TOKENS: within-bucket running sums (bounded frames),
    bucket token totals = max running sum (reuses the window's
    exchange), per-group offsets from the shared constant-size
    prefix-sum join (plain equi-join here — NULL groups are filtered
    out by the pct CASE, unlike sample_quota), and the corpus token
    total derived from the SAME bucket-stats frame (sum of per-bucket
    maxima), entering the plan as a broadcast 1-row scalar (the
    pagerank crossJoin posture — no collect, no second corpus scan).
    The md5 order key uses its own 'mx:' prefix, so the mixture sample
    is an independent stream from sample_quota's 'sq:' ordering (two
    mixing strategies over one corpus don't correlate). The DuckDB
    oracle uses the plain per-group window cumsum, an independent
    derivation."""
    if targets is None:
        targets = MIXTURE_TARGETS
    key = F.md5(
        F.concat(F.lit("mx:"), F.col("doc_id").cast("string")).cast("binary")
    )
    pct = F.lit(None).cast("long")
    for g, p in sorted(targets.items()):
        pct = F.when(F.col("grp") == g, F.lit(p).cast("long")).otherwise(pct)
    d = (
        docs.select(
            "doc_id",
            F.col(group_col).alias("grp"),
            F.size(ws_tokens(F.col("text"))).cast("long").alias("n_tokens"),
            key.alias("k"),
        )
        .withColumn("pct", pct)
        .where(F.col("pct").isNotNull())
        .withColumn(
            "b", F.conv(F.substring("k", 1, bucket_hex), 16, 10).cast("int")
        )
    )
    w = (
        Window.partitionBy("grp", "b")
        .orderBy("k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = d.withColumn("ct", F.sum("n_tokens").over(w))
    bc = cum.groupBy("grp", "b").agg(F.max("ct").alias("tok_c"))
    offsets = _bucket_offsets(bc, "tok_c", null_safe=False)
    # corpus token total = Σ per-bucket max running sums — derived from
    # the bucket-stats frame (dim-sized), not a second corpus scan
    total = bc.agg(F.sum("tok_c").cast("long").alias("total_tokens"))
    return (
        cum.join(
            F.broadcast(offsets),
            (F.col("grp") == F.col("o_grp"))
            & (F.col("b") == F.col("o_b")),
        )
        .crossJoin(F.broadcast(total))
        .withColumn("cum_tokens", (F.col("off") + F.col("ct")).cast("long"))
        .where(
            F.col("cum_tokens")
            <= F.expr(
                f"total_tokens * pct * {int(coverage_pct)} div 10000"
            )
        )
        .select(
            "doc_id", F.col("grp").alias(group_col), "n_tokens", "cum_tokens"
        )
    )


def redact_pii(turns: DataFrame, spans: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, redacted_text, n_redacted): replace every PII
    span in the turn text with its ``[TYPE]`` placeholder — the scrubbing
    step a compliant training corpus needs before the text ships to
    pretraining. ``spans`` is (conv_id, turn_idx, s, e, type) with
    [s, e) 0-based char offsets (the mentions table's regex subset, via
    `pii_spans`).

    Overlap policy (deterministic): spans sort by (start asc, end desc,
    type asc); a span EMITS a placeholder only if it starts at or after
    the current redaction frontier (earliest-then-longest wins the
    label), but EVERY span — emitted or not — advances the frontier to
    max(frontier, end), so the union of all PII character ranges is
    scrubbed: a partially-overlapping dropped span cannot leak its tail
    into the output (its extra characters collapse into the preceding
    placeholder).

    Shape at scale: ONE shuffle keyed by (conv_id, turn_idx) to gather a
    turn's spans (bounded by turn length), then a narrow per-row fold
    that splices the text left-to-right — no window, no explode of the
    corpus text. Turns with no spans pass through verbatim via the left
    join."""
    sp = spans.groupBy("conv_id", "turn_idx").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("s"),
                    (-F.col("e")).alias("neg_e"),
                    F.col("type"),
                    F.col("e"),
                )
            )
        ).alias("sp")
    )
    j = turns.select("conv_id", "turn_idx", "text").join(
        sp, ["conv_id", "turn_idx"], "left"
    )
    empty = F.array().cast(
        "array<struct<s:bigint,neg_e:bigint,type:string,e:bigint>>"
    )
    _zl = F.lit(0).cast("long")
    init = F.struct(
        _zl.alias("pos"), F.lit("").alias("acc"), _zl.alias("n")
    )
    text = F.col("text")

    def merge(acc: Column, x: Column) -> Column:
        keep = x["s"] >= acc["pos"]
        spliced = F.concat(
            acc["acc"],
            text.substr(
                (acc["pos"] + 1).cast("int"),
                (x["s"] - acc["pos"]).cast("int"),
            ),
            F.lit("["), x["type"], F.lit("]"),
        )
        return F.struct(
            # the frontier always advances over the span's range —
            # dropped overlapping spans must not leak their tail
            F.greatest(acc["pos"], x["e"]).alias("pos"),
            F.when(keep, spliced).otherwise(acc["acc"]).alias("acc"),
            (acc["n"] + F.when(keep, F.lit(1).cast("long")).otherwise(_zl))
            .alias("n"),
        )

    st = F.aggregate(F.coalesce(F.col("sp"), empty), init, merge)
    tail = text.substr(
        (st["pos"] + 1).cast("int"),
        (F.length(text) - st["pos"]).cast("int"),
    )
    return j.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.concat(st["acc"], tail).alias("redacted_text"),
        st["n"].alias("n_redacted"),
    )


def pii_spans(mentions: DataFrame) -> DataFrame:
    """The regex-sourced mention subset as [s, e) redaction spans."""
    return mentions.where(F.col("source") == "regex").select(
        "conv_id",
        "turn_idx",
        F.col("offset").cast("long").alias("s"),
        (F.col("offset") + F.length("value")).cast("long").alias("e"),
        "type",
    )


CTX_CHARS = 40  # context chars on each side of a mention span


def mention_contexts(
    turns: DataFrame, mentions: DataFrame, ctx_chars: int = CTX_CHARS
) -> DataFrame:
    """(conv_id, turn_idx, mention_id, type, left_ctx, surface,
    right_ctx): span-in-context training examples — for every typed
    entity mention, the surface form plus up to ``ctx_chars`` characters
    of left/right context from the ORIGINAL turn text. This is the
    example-extraction step that turns the annotated corpus into NER
    fine-tuning / entity-disambiguation training data (the mention's
    label is ``type``; the context window is what a disambiguation model
    conditions on).

    One co-keyed (conv_id, turn_idx) equi-join of the mentions table
    onto the turns table — both sides partition on the conversation key
    at scale, the redact_pii posture — followed by narrow substring
    expressions (whole-stage codegen, zero extra shuffles). Character
    windows keep every value an exact string function of the inputs
    (engine-stable gate hashes; a token window would re-tokenize).

    Offsets are trusted nowhere: an in-plan ``raise_error`` guard fails
    the job loudly if ``substring(text, offset+1, len(value))`` differs
    from the recorded mention value (a drifted offset would otherwise
    silently emit garbage contexts into the training set)."""
    if ctx_chars < 0:
        raise ValueError(f"ctx_chars must be >= 0, got {ctx_chars}")
    k = int(ctx_chars)
    m = mentions.select(
        "conv_id",
        "turn_idx",
        "mention_id",
        "type",
        F.col("offset").cast("int").alias("s"),
        F.length("value").cast("int").alias("n"),
        F.col("value"),
    )
    j = m.join(turns.select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"])
    surface = F.expr("substring(text, s + 1, n)")
    guarded = F.when(
        surface != F.col("value"),
        F.raise_error(
            F.concat(
                F.lit("mention_contexts: offset/text drift at ("),
                F.col("conv_id"),
                F.lit(", "),
                F.col("turn_idx").cast("string"),
                F.lit("): expected '"),
                F.col("value"),
                F.lit("' got '"),
                surface,
                F.lit("'"),
            )
        ),
    ).otherwise(surface)
    return j.select(
        "conv_id",
        "turn_idx",
        "mention_id",
        "type",
        F.expr(f"substring(text, greatest(1, s + 1 - {k}), least({k}, s))").alias(
            "left_ctx"
        ),
        guarded.alias("surface"),
        F.expr(f"substring(text, s + n + 1, {k})").alias("right_ctx"),
    )


TRAIN_SHARDS = 8


def train_shards(docs: DataFrame, n_shards: int = TRAIN_SHARDS) -> DataFrame:
    """(doc_id, shard, shard_key): the deterministic global shuffle
    that precedes training — every document gets a shard
    ``h60('sh:' || doc_id) % n_shards`` and an in-shard order key
    ``md5('so:' || doc_id)`` (two INDEPENDENT hash streams per the
    functions/hashing.py convention, so shard membership doesn't
    correlate with in-shard position). Sharding + per-shard hash order
    is the scale-correct form of "shuffle the corpus": a true global
    random order would be a single-partition total sort, while this is
    one hash repartition and a per-shard sort — statistically the same
    shuffle, embarrassingly parallel, and bit-reproducible across
    re-runs (same corpus -> same shards -> same training batches).

    :func:`write_training_shards` materializes the layout; this frame
    is the gateable assignment."""
    shard, key = _shard_cols(n_shards)
    return docs.select("doc_id", shard, key)


def _shard_cols(n_shards: int):
    """The two deterministic shard expressions — shared by the
    assignment frame and the writer, which computes them INLINE on the
    corpus (they're pure functions of doc_id, so a join against the
    assignment frame would be pure waste). A NULL doc_id fails LOUD
    in-plan: it would otherwise propagate to a NULL shard and the
    writer would silently bury the row in a
    shard=__HIVE_DEFAULT_PARTITION__/ directory no loader globbing
    shard=K/ ever reads."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    shard = (
        F.when(
            F.col("doc_id").isNull(),
            F.raise_error(
                F.lit("train_shards: NULL doc_id cannot be sharded")
            ).cast("long"),
        )
        .otherwise(
            F.pmod(
                h60(F.concat(F.lit("sh:"), F.col("doc_id").cast("string"))),
                F.lit(n_shards),
            )
        )
        .cast("int")
        .alias("shard")
    )
    key = F.md5(
        F.concat(F.lit("so:"), F.col("doc_id").cast("string")).cast("binary")
    ).alias("shard_key")
    return shard, key


def write_training_shards(
    docs: DataFrame, path: str, n_shards: int = TRAIN_SHARDS
) -> None:
    """Materialize the training corpus as ``shard=K/`` parquet
    directories, rows inside each shard sorted by the deterministic
    shard key — the layout a data loader streams per-worker without any
    further shuffling. The shard expressions are computed INLINE on the
    corpus (pure functions of doc_id — no join against the assignment
    frame), so the whole plan is ONE hash repartition on the shard id
    (each shard lives in exactly one task, so each ``shard=K``
    directory holds one sorted file) + sortWithinPartitions; no global
    sort anywhere. At cluster scale raise ``n_shards`` with the corpus
    (shards ≈ loader-worker count); rerunning overwrites to identical
    rows in identical in-file order (hash-derived layout, no RNG state
    — part-file NAMES still embed Spark's per-task UUIDs, so checksum
    contents, not filenames)."""
    shard, key = _shard_cols(n_shards)
    (
        docs.select("*", shard, key)
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "shard_key")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


PACK_BUDGET = 128  # token budget per packed training sequence
PACK_SHARDS = 16


def pack_sequences(
    docs: DataFrame,
    budget: int = PACK_BUDGET,
    n_shards: int = PACK_SHARDS,
) -> DataFrame:
    """(doc_id, shard, bin, pos, n_tokens): greedy sequential packing of
    documents into fixed-token-budget training sequences — the batching
    step before LLM pretraining (concatenate docs until the next one
    would overflow ``budget``, then start a new sequence). Oversize
    documents (> budget tokens) occupy a bin alone.

    Packing is METADATA-scale: only (doc_id, token count, order key)
    move — the text stays in place and rejoins the assignment by doc_id
    at write time. Documents are hash-sharded (`n_shards` is the knob
    that bounds per-executor state; scale it with the corpus) and packed
    per shard by an applyInPandas greedy scan — the sequential recurrence
    Catalyst can't express (bin boundaries depend on the running
    remainder, not a cumsum). Order within a shard is (md5 key, doc_id):
    deterministic, so a re-run emits bit-identical batches and the
    DuckDB oracle replays the same greedy walk as a recursive CTE.

    The greedy rule per shard, in order: if the accumulated tokens are
    nonzero and would exceed ``budget`` with this doc, start a new bin;
    assign (bin, position); accumulate."""
    # doc_id stays type-generic (every other operator casts to string for
    # hash streams): the applyInPandas output schema carries the corpus's
    # own doc_id type instead of hardcoding long, so a string-keyed
    # corpus packs identically instead of failing at plan-build time.
    doc_id_type = docs.schema["doc_id"].dataType.simpleString()
    key = F.md5(
        F.concat(F.lit("pk:"), F.col("doc_id").cast("string")).cast("binary")
    )
    d = docs.select(
        "doc_id",
        F.size(ws_tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.pmod(
            h60(F.concat(F.lit("pk:"), F.col("doc_id").cast("string"))),
            F.lit(n_shards),
        ).cast("int").alias("shard"),
        key.alias("k"),
    )

    def pack(pdf):
        pdf = pdf.sort_values(["k", "doc_id"]).reset_index(drop=True)
        bins, poss = [], []
        b, acc, p = 0, 0, 0
        for t in pdf["n_tokens"]:
            if acc > 0 and acc + t > budget:
                b, acc, p = b + 1, 0, 0
            bins.append(b)
            poss.append(p)
            acc += int(t)
            p += 1
        pdf = pdf.assign(bin=bins, pos=poss)
        return pdf[["doc_id", "shard", "bin", "pos", "n_tokens"]]

    return d.groupBy("shard").applyInPandas(
        pack,
        f"doc_id {doc_id_type}, shard int, bin long, pos int, n_tokens long",
    )


def _run_fold(sorted_grams: Column) -> Column:
    """Run-length fold over a SORTED gram array: one linear pass carrying
    (prev gram, current run, max run, occurrences in runs > 1, count of
    runs > 1). Equal grams are adjacent after the sort, so a run IS a
    gram's multiplicity; the boundary cases (first element, final run)
    resolve in merge/finish respectively."""
    _Z = F.lit(0).cast("long")
    init = F.struct(
        F.lit("").alias("prev"), _Z.alias("run"), _Z.alias("maxr"),
        _Z.alias("dupocc"), _Z.alias("dupk"),
    )

    def merge(acc: Column, x: Column) -> Column:
        same = acc["prev"] == x
        run_new = F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        boundary_dup = (~same) & (acc["run"] > 1)
        return F.struct(
            x.alias("prev"),
            run_new.alias("run"),
            F.greatest(acc["maxr"], run_new).alias("maxr"),
            (acc["dupocc"] + F.when(boundary_dup, acc["run"]).otherwise(_Z))
            .alias("dupocc"),
            (acc["dupk"] + F.when(boundary_dup, F.lit(1).cast("long"))
             .otherwise(_Z)).alias("dupk"),
        )

    def finish(acc: Column) -> Column:
        last_dup = acc["run"] > 1
        return F.struct(
            acc["maxr"].alias("top_count"),
            (acc["dupocc"] + F.when(last_dup, acc["run"]).otherwise(_Z))
            .alias("dup_occ"),
            (acc["dupk"] + F.when(last_dup, F.lit(1).cast("long"))
             .otherwise(_Z)).alias("dup_kinds"),
        )

    return F.aggregate(sorted_grams, init, merge, finish)


def doc_repetition(docs: DataFrame, n: int = REPETITION_NGRAM) -> DataFrame:
    """(doc_id, n_ngrams, top_ngram_count, dup_ngram_occurrences,
    dup_ngram_kinds, top_ngram_frac, dup_ngram_frac): Gopher-style
    repetition heuristics — how much of the document is its own most
    common word n-gram, and what fraction of n-gram occurrences belong
    to n-grams that repeat. High fractions flag boilerplate/spam for the
    curation filter.

    Zero shuffles: the whole computation is a per-row fold over the
    sorted n-gram array (see _run_fold); fractions are one IEEE division
    over exact ints, rounded at 6 for engine-stable gate hashes. Tokens
    and grams are projected into concrete columns before the fold (the
    word_grams contract — and grams feed three output expressions, so an
    inline expression would run the constructor three times)."""
    grams = word_grams(F.col("_toks"), n)
    st = F.col("_st")
    ng = F.col("_ng")
    denom = F.greatest(ng, F.lit(1).cast("long"))
    return (
        docs.select("doc_id", ws_tokens(F.col("text")).alias("_toks"))
        .select("doc_id", grams.alias("_grams"))
        # the fold struct feeds five output expressions — materialize it
        # once (interpreted aggregate; no CSE inside the projection)
        .select(
            "doc_id",
            F.size(F.col("_grams")).cast("long").alias("_ng"),
            _run_fold(F.array_sort(F.col("_grams"))).alias("_st"),
        )
        .select(
            "doc_id",
            ng.alias("n_ngrams"),
            st["top_count"].alias("top_ngram_count"),
            st["dup_occ"].alias("dup_ngram_occurrences"),
            st["dup_kinds"].alias("dup_ngram_kinds"),
            F.round(st["top_count"] / denom, 6).alias("top_ngram_frac"),
            F.round(st["dup_occ"] / denom, 6).alias("dup_ngram_frac"),
        )
    )
