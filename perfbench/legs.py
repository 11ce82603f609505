"""The traced run's layer measurements.

After the traced pipeline job, the traced run measures the layers the
job does not isolate, each in its own Spark job group:

- the NER kernel phases, single-process, on the workload's turns;
- linking counts from the committed links table;
- the log-structured streaming state (``streaming.logstate``): two
  micro-batches of the workload's turns through ``stream_pipeline_log``,
  each followed by a ``read_pipeline_edges`` serving read;
- the training-data operators of ``bench.run_trainops_timed`` on the
  seed's documents/embeddings tables.

Every leg's output is checked against DuckDB oracles: the served
streamed edges against the oracle chain over the same conversations'
committed triples, each curation op against its gate oracle.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import duckdb
import pandas as pd

from perfbench.check import frames_equal
from perfbench.kernels import kernel_profile
from perfbench.trace import STAGES, event_log_files, parse_event_log, self_times

KERNEL_TURNS = 2000
STREAM_BATCHES = 2
STREAM_BATCH_CONVS = 20


def unit_of(name: str) -> str:
    if name.endswith("core_us_per_turn"):
        return "us/turn"
    if name.endswith("_us"):
        return "us"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith("_mib"):
        return "MiB"
    if name.endswith("per_turn"):
        return "1/turn"
    if name.endswith(("_skew", "_amp", "_ratio")):
        return "ratio"
    return "count"


def _every_kth(df: pd.DataFrame, n: int) -> pd.DataFrame:
    return df.iloc[:: max(1, len(df) // n)].head(n)


def links_counts(links_dir: str) -> dict[str, float]:
    methods = duckdb.sql(
        f"SELECT method, count(*) AS n FROM read_parquet('{links_dir}/*.parquet') "
        "GROUP BY method"
    ).df()
    by = dict(zip(methods["method"], methods["n"]))
    total = sum(by.values())
    residual = total - by.get("exact", 0)
    return {
        "links.surfaces": float(total),
        "links.residual_ratio": residual / total if total else 0.0,
        "links.fuzzy_hit_ratio": by.get("fuzzy", 0) / residual if residual else 0.0,
    }


def _files(path: str) -> dict[str, int]:
    return {
        os.path.join(r, f): os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path)
        for f in fs
    }


def logstate_leg(spark, turns: pd.DataFrame, leg_dir: str) -> dict:
    """STREAM_BATCHES micro-batches through stream_pipeline_log in a closed
    loop with one client: land a file, ingest it, read the served edges.
    The last commit folds the live segments (compact_every)."""
    from pyspark.sql import functions as F
    from transner_spark.streaming.logstate import read_pipeline_edges, stream_pipeline_log

    from perfbench.inputs import write_transcripts

    sc = spark.sparkContext
    in_dir, state, cp = (os.path.join(leg_dir, d) for d in ("in", "state", "cp"))
    os.makedirs(in_dir)
    convs = sorted(turns["conv_id"].unique())[: STREAM_BATCHES * STREAM_BATCH_CONVS]
    commit_s, read_s, written, run_ids = [], [], [], []
    for b in range(STREAM_BATCHES):
        part = turns[turns["conv_id"].isin(
            convs[b * STREAM_BATCH_CONVS:(b + 1) * STREAM_BATCH_CONVS]
        )]
        write_transcripts(part.reset_index(drop=True), os.path.join(in_dir, f"b{b:03d}.parquet"))
        before = _files(state)
        t0 = time.monotonic()
        q = stream_pipeline_log(spark, in_dir, state, cp, compact_every=STREAM_BATCHES)
        commit_s.append(time.monotonic() - t0)
        run_ids.append(str(q.runId))
        written.append(sum(sz for p, sz in _files(state).items() if before.get(p) != sz))
        sc.setJobGroup("logstate.read", "logstate.read")
        t0 = time.monotonic()
        served = read_pipeline_edges(spark, state).select(
            "subj_id", "pred", "obj_id",
            F.col("weight").cast("long").alias("weight"),
            F.col("first_ts").cast("long").alias("first_epoch"),
            F.col("last_ts").cast("long").alias("last_epoch"),
        ).toPandas()
        read_s.append(time.monotonic() - t0)
        sc.setLocalProperty("spark.jobGroup.id", None)
    with open(os.path.join(state, "METRICS.jsonl")) as fh:
        last = [json.loads(line) for line in fh][-1]
    live = sum(_files(os.path.join(state, "segments")).values())
    return {
        "metrics": {
            "logstate.commit_s": statistics.median(commit_s),
            "logstate.read_s": statistics.median(read_s),
            "logstate.bytes_written_per_batch": statistics.fmean(written),
            "logstate.write_amp": sum(written) / live,
            "logstate.segments_live": float(last["segments_live"]),
        },
        "stream_groups": run_ids,
        "served": served,
        "conv_ids": list(convs),
    }


def curate_ops(spark, docs_dir: str):
    """(op, callable returning {oracle name: DataFrame}) for the 13 ops of
    bench.run_trainops_timed, with the bench's arguments."""
    from transner_spark.operators.curation import (
        decontaminate,
        doc_repetition,
        eval_split,
        pack_sequences,
        sample_quota,
        sample_to_mixture,
        train_shards,
    )
    from transner_spark.operators.dedup import dedup_minhash_lsh, dedup_simhash, dedup_substring
    from transner_spark.operators.simsearch import ann_ivf, ann_lsh
    from transner_spark.operators.textops import (
        VOCAB_GATE_K,
        doc_fingerprint,
        lang_id,
        text_stats,
        tfidf_keywords,
        vocab_topk,
    )

    docs = spark.read.parquet(os.path.join(docs_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(docs_dir, "embeddings.parquet"))
    ev = eval_split(docs)
    return (
        ("textops", lambda: {
            "text_stats": text_stats(docs),
            "lang_id": lang_id(docs),
            "doc_fingerprint": doc_fingerprint(docs),
        }),
        ("decontaminate", lambda: {
            "decontaminate": decontaminate(docs.where(~ev), docs.where(ev)),
        }),
        ("sample_quota", lambda: {"sample_quota": sample_quota(docs)}),
        ("sample_to_mixture", lambda: {"sample_to_mixture": sample_to_mixture(docs)}),
        ("doc_repetition", lambda: {"doc_repetition": doc_repetition(docs)}),
        ("pack_sequences", lambda: {"pack_sequences": pack_sequences(docs)}),
        ("train_shards", lambda: {"train_shards": train_shards(docs)}),
        ("keywords", lambda: {
            "vocab_topk": vocab_topk(docs, k=VOCAB_GATE_K),
            "tfidf_keywords": tfidf_keywords(docs),
        }),
        ("dedup_minhash", lambda: {"dedup_minhash_lsh": dedup_minhash_lsh(docs)}),
        # bench.py raises the guard cap for timing; the output does not depend on it
        ("dedup_substring", lambda: {
            "dedup_substring": dedup_substring(docs, max_docs_per_window=256),
        }),
        ("dedup_simhash", lambda: {"dedup_simhash": dedup_simhash(docs)}),
        ("ann_lsh", lambda: {"ann_lsh": ann_lsh(spark, emb)}),
        ("ann_ivf", lambda: {"ann_ivf": ann_ivf(spark, emb)}),
    )


def curate_leg(spark, docs_dir: str) -> dict:
    """Each op once, collected to the driver (so every output column is
    computed), then compared with its DuckDB oracle."""
    from transner_spark.oracles import (
        curation_oracles,
        dedup_oracles,
        simsearch_oracles,
        textops_oracles,
    )

    docs = os.path.join(docs_dir, "documents.parquet")
    emb = os.path.join(docs_dir, "embeddings.parquet")
    oracles = textops_oracles(docs) | curation_oracles(docs) | dedup_oracles(docs, emb)
    oracles |= simsearch_oracles(emb)
    sc = spark.sparkContext
    metrics, results = {}, {}
    for op, fn in curate_ops(spark, docs_dir):
        spark.catalog.clearCache()
        sc.setJobGroup(f"curate.{op}", op)
        t0 = time.monotonic()
        for name, df in fn().items():
            results[name] = df.toPandas()
        metrics[f"curate.{op}_s"] = time.monotonic() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
    spark.catalog.clearCache()
    con = duckdb.connect()
    try:
        checks = {name: frames_equal(got, con.sql(oracles[name]).df()) for name, got in results.items()}
    finally:
        con.close()
    return {"metrics": metrics, "checks": checks}


def traced_layers(spark, meta: dict, job_dir: str, alias_dim: str, run_dir: str) -> dict:
    from transner_spark.config import MAX_TURN_WORDS

    from perfbench.check import check_served_edges

    turns = pd.read_parquet(meta["transcripts"])
    kept = turns[turns["text"].str.split().str.len() <= MAX_TURN_WORDS]
    out: dict = {"metrics": {}, "kept_turns": len(kept)}
    t0 = time.monotonic()
    out["metrics"] |= kernel_profile(_every_kth(kept, KERNEL_TURNS))
    out["metrics"] |= links_counts(os.path.join(job_dir, "links"))
    t1 = time.monotonic()
    leg_dir = os.path.join(run_dir, "logstate")
    ls = logstate_leg(spark, turns, leg_dir)
    shutil.rmtree(leg_dir)
    out["metrics"] |= ls["metrics"]
    out["stream_groups"] = ls["stream_groups"]
    t2 = time.monotonic()
    cu = curate_leg(spark, meta["docs_dir"])
    out["metrics"] |= cu["metrics"]
    t3 = time.monotonic()
    checks = {f"curate.{k}": v for k, v in cu["checks"].items()}
    checks["logstate.read_pipeline_edges"] = check_served_edges(
        ls["served"], job_dir, ls["conv_ids"], meta["transcripts"], alias_dim
    )
    out["leg_s"] = {"kernels": t1 - t0, "logstate": t2 - t1, "curate": t3 - t2}
    out["checks_attempted"] = len(checks)
    out["check_failures"] = {k: v for k, v in checks.items() if v}
    return out


def per_layer_metrics(layers: dict, run_dir: str, spans: list[dict], n_jobs: int) -> dict:
    """Join the spans with the Spark event log into the per-layer metrics
    (each a per-job mean when more than one job ran)."""
    groups = parse_event_log(event_log_files(os.path.join(run_dir, "eventlog")))
    own = self_times(spans)
    walls: dict[str, float] = {}
    for s in spans:
        walls[s["name"]] = walls.get(s["name"], 0.0) + s["end"] - s["start"]
    m: dict[str, float] = {}
    turns = layers["kept_turns"]
    for st in STAGES:
        g = groups.get(st, {})
        m[f"{st}.wall_s"] = walls.get(st, 0.0) / n_jobs
        m[f"{st}.task_cpu_s"] = g.get("task_cpu_s", 0.0) / n_jobs
        m[f"{st}.gc_s"] = g.get("gc_s", 0.0) / n_jobs
        m[f"{st}.shuffle_write_bytes"] = g.get("shuffle_write_bytes", 0) / n_jobs
        m[f"{st}.spill_bytes"] = g.get("spill_bytes", 0) / n_jobs
        m[f"{st}.task_skew"] = g.get("task_skew", 1.0)
        m[f"{st}.core_us_per_turn"] = g.get("run_s", 0.0) * 1e6 / turns / n_jobs
    m["pipeline.wall_s"] = walls["pipeline"] / n_jobs
    m["pipeline.bookkeeping_s"] = own["pipeline"] / n_jobs
    m["pipeline.bookkeeping_task_cpu_s"] = groups.get("bookkeeping", {}).get("task_cpu_s", 0.0) / n_jobs
    m |= layers["metrics"]
    m["logstate.task_cpu_s"] = sum(
        groups.get(g, {}).get("task_cpu_s", 0.0) for g in layers["stream_groups"]
    )
    return m
