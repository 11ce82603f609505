"""T10/T11 — inline $-annotation emit and corpus concat, Spark-first.

Reference semantics
(/root/reference/transner/transner/tools/panacea_tools/parser.py):

- T10a ``inline_annotate`` (parser.annotation:36-50): for each entity
  key (in sorted key order here — the reference iterates an unordered
  dict, so we pin a deterministic order), IF the first occurrence of
  ``' key '`` in the text sits at Python index > 1, replace ALL
  occurrences of ``' key '`` with ``' $key$TYPE '``. Quirks kept: the
  index>1 gate suppresses every replacement of a key whose first hit is
  at position 0/1; space-delimited matching means adjacent keys contend
  for the shared space (sequential order matters).
- T10b ``inline_conll`` (parser.create_conll:55-87): per LINE, a
  '$'-state machine over whitespace words: ``$key$TYPE`` → single-token
  entity line "key TYPE"; ``$first`` opens a multi-token entity;
  ``last$TYPE`` closes it, emitting every buffered word with the bare
  TYPE tag (no B-/I- prefixes — the tools' quirk); other words inside an
  entity are buffered; outside, "word O". State resets per line; an
  entity left open at end of line is silently dropped (reference
  behavior).
- T11 ``concat_corpus`` (parser.__main__:122-128): corpus concat =
  each doc's conll lines followed by one extra blank line
  (``data + '\\n'``).

Scale design: the entity dictionary is an aggregated array broadcast as
a 1-row frame (dim-sized); both the annotate fold and the conll state
machine are single Catalyst ``aggregate`` expressions evaluated
iteratively per row — sequential semantics WITHOUT per-plan expression
blowup, no Python in the data path, embarrassingly parallel over
documents. The DuckDB oracles re-derive both folds with recursive CTEs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from transner_spark.functions.hashing import h60

T10_TYPES = ("PER", "LOC", "ORG")
T10_SELECT_MOD = 3  # pmod(h60('t10:'+word), MOD) == 0 → word is an entity key


def t10_entities(docs: DataFrame) -> DataFrame:
    """Deterministic entity dictionary derived from the corpus itself:
    distinct words whose portable hash selects them, typed by a second
    hash. (The reference reads entities from GrAF XMLs — external data
    this sandbox lacks — so the dict is synthesized; the emit logic is
    what T10 pins.)"""
    # ASCII-whitespace tokenization (Java \s); the Python kernel twin
    # uses str.split() which also splits non-ASCII Unicode whitespace —
    # a bounded, documented divergence irrelevant for ASCII corpora.
    words = (
        docs.select(F.explode(F.split(F.col("text"), r"\s+")).alias("w"))
        .where(F.col("w") != "")
        .distinct()
    )
    sel = words.where(
        F.pmod(h60(F.concat(F.lit("t10:"), F.col("w"))), F.lit(T10_SELECT_MOD)) == 0
    )
    ty_code = F.pmod(h60(F.concat(F.lit("t10ty:"), F.col("w"))), F.lit(len(T10_TYPES)))
    ty = F.lit(T10_TYPES[0])
    for i, t in enumerate(T10_TYPES[1:], start=1):
        ty = F.when(ty_code == i, F.lit(t)).otherwise(ty)
    return sel.select(F.col("w").alias("key"), ty.alias("ty"))


def inline_annotate(docs: DataFrame, entities: DataFrame | None = None) -> DataFrame:
    """T10a: (doc_id, text) → (doc_id, annotated). The fold over the
    sorted entity list runs inside ONE aggregate expression — iterative
    at runtime, so N entities cost N string passes, not an N-deep plan."""
    entities = entities if entities is not None else t10_entities(docs)
    ent_arr = entities.agg(
        F.array_sort(F.collect_list(F.struct("key", "ty"))).alias("ents")
    )

    def step(acc: Column, e: Column) -> Column:
        pad = F.concat(F.lit(" "), e["key"], F.lit(" "))
        repl = F.concat(
            F.lit(" $"), e["key"], F.lit("$"), e["ty"], F.lit(" ")
        )
        # str.find(...) > 1  ⇔  1-based instr >= 3 (and found)
        return F.when(
            F.instr(acc, pad) >= 3, F.replace(acc, pad, repl)
        ).otherwise(acc)

    return docs.crossJoin(F.broadcast(ent_arr)).select(
        "doc_id",
        F.aggregate("ents", F.col("text"), step).alias("annotated"),
    )


def _conll_lines_for_words(words: Column) -> Column:
    """The per-line '$'-state machine as one aggregate: acc = (ent,
    buffered annotation words, output lines)."""
    empty = F.array().cast("array<string>")
    acc0 = F.struct(
        F.lit(False).alias("ent"), empty.alias("ann"), empty.alias("out")
    )

    def step(acc: Column, w: Column) -> Column:
        parts = F.split(w, r"\$")
        cnt = F.size(parts) - 1
        outer = w.startswith("$") | acc["ent"]
        single = cnt == 2
        endw = (cnt == 1) & acc["ent"]
        startw = (cnt == 1) & ~acc["ent"]
        closed = F.concat(acc["ann"], F.array(F.element_at(parts, 1)))
        tag = F.element_at(parts, 2)
        new_out = (
            F.when(~outer, F.concat(acc["out"], F.array(F.concat(w, F.lit(" O")))))
            .when(
                single,
                F.concat(
                    acc["out"],
                    F.array(
                        F.concat(
                            F.element_at(parts, 2), F.lit(" "), F.element_at(parts, 3)
                        )
                    ),
                ),
            )
            .when(
                endw,
                F.concat(
                    acc["out"],
                    F.transform(closed, lambda a: F.concat(a, F.lit(" "), tag)),
                ),
            )
            .otherwise(acc["out"])
        )
        new_ann = (
            F.when(~outer | single, acc["ann"])
            .when(endw, F.array().cast("array<string>"))
            # reference APPENDS to the buffer on start-of-entity
            # (parser.create_conll annotation.append(word.split('$')[1]))
            # — words with >=3 '$'s buffered while ent=False survive
            .when(startw, F.concat(acc["ann"], F.array(F.element_at(parts, 2))))
            .otherwise(F.concat(acc["ann"], F.array(w)))
        )
        new_ent = (
            F.when(~outer | single, acc["ent"])
            .when(endw, F.lit(False))
            .when(startw, F.lit(True))
            .otherwise(acc["ent"])
        )
        return F.struct(
            new_ent.alias("ent"), new_ann.alias("ann"), new_out.alias("out")
        )

    return F.aggregate(words, acc0, step, lambda acc: acc["out"])


def inline_conll(annotated: DataFrame) -> DataFrame:
    """T10b: (doc_id, annotated) → (doc_id, src_line, out_idx, line)."""
    lines = annotated.select(
        "doc_id",
        F.posexplode(F.split(F.col("annotated"), "\n")).alias("src_line", "line"),
    )
    words = F.filter(F.split(F.col("line"), r"\s+"), lambda w: w != "")
    out = lines.select(
        "doc_id",
        "src_line",
        F.posexplode(_conll_lines_for_words(words)).alias("out_idx", "line"),
    )
    return out.select(
        "doc_id",
        F.col("src_line").cast("long").alias("src_line"),
        F.col("out_idx").cast("long").alias("out_idx"),
        "line",
    )


def concat_corpus(conll: DataFrame, docs: DataFrame) -> DataFrame:
    """T11: corpus concat — every doc's conll lines plus one trailing
    blank line per doc (reference: ``data + '\\n'`` per FILE, whether or
    not the file has content — hence the doc universe comes from
    ``docs``, not from the conll output: a doc whose text yields zero
    CoNLL lines still contributes its separator). Global file order =
    (doc_id, src_line, out_idx); the extra blank sorts last via the
    sentinel indices."""
    sep = docs.select("doc_id").distinct().select(
        "doc_id",
        F.lit(2**31).cast("long").alias("src_line"),
        F.lit(0).cast("long").alias("out_idx"),
        F.lit("").alias("line"),
    )
    return conll.unionByName(sep)

