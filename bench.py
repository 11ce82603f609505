"""Benchmark: full KG pipeline at $SPARK_GRAFT_SF_DIR (default sf0.1,
~200k turns) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "kg_pipeline_wall", "value": <total sec>, "unit": "sec",
   "queries": {stage: sec, ...}, "sf": ..., "turns": N, "triples": N,
   "triples_per_sec": ..., "turns_per_sec": ...}

``--scaling`` additionally runs the same job at the two SCALING_LEVELS
parallelism levels on the same (larger) input and writes BENCH.md with
throughput at both + scaling efficiency — the sandbox proxy for the
north rule's N vs 4N executor-cluster criterion. See BENCH.md for why
the levels sit inside the host's unsaturated region.

``--sections`` instead builds the KG once with ``PipelineRun`` and
regenerates BENCH.md's evidence sections over its committed tables
(TWO_HOP_GUARD, GRAPH_ANALYTICS, WALKS_PROVENANCE, BUCKETED_EDGES,
SKEW_JOIN), every op timed by ``measure``.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from contextlib import contextmanager

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)
BENCH_MD = os.path.join(REPO, "BENCH.md")


def _proc_tree_rss_mib() -> float:
    """Total RSS (MiB) of this process and every descendant — in local
    mode that is the driver python, the JVM, and all Arrow python
    workers."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            ppid = int(parts[1])  # field 4 overall; 2nd after comm
            with open(f"/proc/{d}/statm") as f:
                rss_pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        procs[int(d)] = (ppid, rss_pages)
    keep = {os.getpid()}
    changed = True
    while changed:
        changed = False
        for pid, (ppid, _) in procs.items():
            if pid not in keep and ppid in keep:
                keep.add(pid)
                changed = True
    page_mib = os.sysconf("SC_PAGESIZE") / (1024 * 1024)
    return sum(procs[p][1] for p in keep if p in procs) * page_mib


class RssSampler:
    """Background peak-RSS sampler over the whole process tree — the
    sandbox mirror of the reference bench protocol's memory axis
    (/root/reference/benchmarks.py:59-79 samples memory_usage() around
    each NER call and reports max/min/avg MiB)."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.samples: list[float] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples.append(_proc_tree_rss_mib())
            self._stop.wait(self.interval)

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.samples.append(_proc_tree_rss_mib())  # ≥1 sample, even sub-interval

    @property
    def peak(self) -> float:
        return max(self.samples)


@contextmanager
def stage(name: str, timings: dict[str, float], rss: dict[str, float]):
    """Time a bench stage and record its peak process-tree RSS."""
    sampler = RssSampler()
    t0 = time.monotonic()
    with sampler:
        yield
    timings[name] = time.monotonic() - t0
    rss[name] = sampler.peak

# N vs 4N proxy pairs. The headline pair (2, 8) sits inside this host's
# unsaturated region (see the rationale block written into BENCH.md);
# the (8, 32) pair is reported alongside for transparency — it measures
# host oversubscription as much as pipeline scaling (ADVICE r1).
SCALING_PAIRS = ((2, 8), (8, 32))
SCALING_LEVELS = tuple(sorted({n for p in SCALING_PAIRS for n in p}))
# Cold-JVM reps per level, ROUND-ROBIN across levels, per-level result =
# the min-total rep. Round 4 measured the sandbox host delivering bursty
# multi-second stalls that land on a DIFFERENT stage each run (triples
# 2.3s vs 27.3s on identical code/config/corpus minutes apart; annotate
# 31.6s vs 103.9s at local[32]): a single-shot leg times the host burst,
# not the pipeline, and under one-sided noise the minimum is the
# unbiased estimator of the code's cost (same rationale as the trainops
# reps). Round-robin order means one burst window can hit at most one
# rep of each level. local[2] gets fewer reps: its long CPU-bound wall
# averages over bursts (observed ±8% across four round-4 runs, vs 3x+
# swings on the short multi-core legs).
SCALING_REPS = {2: 2, 8: 3, 32: 3}


def build_session(master: str, cpus: int):
    from transner_spark.functions.session import get_spark

    return get_spark(master=master, app_name="transner_spark_bench",
                     shuffle_partitions=cpus)


def ensure_scaling_corpus(turns: int = 1_600_000) -> str:
    """Generate-once large corpus for the N-vs-4N scaling runs: the
    fixed driver/setup overheads (~10-15 s: python-worker spin-up,
    iterative-CC driver latency) would dominate a 190k-turn run and
    measure the sandbox, not the pipeline. Distributed generation, 64
    output splits."""
    out = os.path.join(REPO, "data", "cache", "scaling", "transcripts.parquet")
    # _SUCCESS check: a bare directory check would accept a partially
    # written corpus if generation crashed mid-write
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    from transner_spark.sources.transcripts import generate_transcripts_spark

    spark = build_session("local[32]", 32)
    df = generate_transcripts_spark(spark, turns // 10, 10)
    df.repartition(64).write.mode("overwrite").parquet(out)
    spark.stop()
    return out


def warm_up(spark, transcripts, workdir: str) -> None:
    """Run the WHOLE pipeline on a 1% sample before the clock starts:
    spawns every python worker, loads per-worker singletons, compiles
    the whole-stage-codegen plans of every stage, and materializes the
    session dim tables (alias exact/gram index). Same steady-state
    policy the trainops runner already applies per-op — measured: the
    links stage's first execution carries ~3.3s of one-time codegen +
    dim + checkpoint cost at sf0.1 that vanishes on re-run. We benchmark
    steady-state throughput, not JIT/interpreter start-up (documented in
    BENCH.md)."""
    from transner_spark.operators.annotate import (
        annotate_turns, explode_mentions, explode_triples,
    )
    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.operators.linking import link_surfaces, node_surfaces
    from transner_spark.operators.materialize import materialize_edges, write_edges

    # sample() keeps the input partitioning, so tasks land on every core
    # and all python workers spawn (limit() would collapse partitions)
    sample = annotate_turns(transcripts.sample(0.01, seed=7)).persist()
    sample.count()
    explode_mentions(sample).count()
    triples = explode_triples(sample).persist()
    links = link_surfaces(spark, node_surfaces(triples)).persist()
    canon = canonicalize(links)
    write_edges(
        materialize_edges(triples, canon),
        os.path.join(workdir, "warmup_edges"),
    )
    sample.unpersist()
    triples.unpersist()
    links.unpersist()


def run_pipeline_timed(
    spark,
    sf_dir: str,
    workdir: str,
    transcripts_path: str | None = None,
    measure_kernel: bool = False,
) -> dict:
    from transner_spark.operators.annotate import (
        annotate_turns, explode_mentions, explode_triples,
    )
    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.operators.linking import link_surfaces, node_surfaces
    from transner_spark.operators.materialize import materialize_edges, write_edges
    from transner_spark.sources.transcripts import ensure_transcripts_parquet

    from pyspark import StorageLevel

    path = transcripts_path or ensure_transcripts_parquet(REPO, sf_dir)
    transcripts = spark.read.parquet(path)
    warm_up(spark, transcripts, workdir)

    # serialized caching: the deserialized default balloons the 1.5M-turn
    # array columns past the local JVM heap and GC-thrashes the small
    # downstream stages; a big heap instead slows every small task
    # (first-touch faults + huge young gen). Serialized fits comfortably.
    CACHE = StorageLevel.MEMORY_AND_DISK

    timings: dict[str, float] = {}
    rss: dict[str, float] = {}
    extras: dict[str, float] = {}
    extras_spread: dict[str, list[float]] = {}

    if measure_kernel:
        # Kernel-only instrumentation passes (plain .count(), no
        # persist): separates NER-kernel time from cache-write cost in
        # the "annotate" stage below. MIN-OF-3 with recorded spread
        # (VERDICT r4): rep 1 still absorbs the one-time first-full-pass
        # JVM ramp (~0.7s at sf0.1: heap growth + full-batch JIT the
        # sampled warm-up can't reach) so the downstream stages stay
        # steady-state, but the RECORDED number is now the min of three
        # — a ramp can no longer masquerade as a kernel regression.
        # Reported as "annotate_kernel" in the queries map; excluded
        # from the wall total — a production run executes annotate once.
        durs: list[float] = []
        peak = 0.0
        for _ in range(3):
            ek: dict[str, float] = {}
            ek_rss: dict[str, float] = {}
            with stage("annotate_kernel", ek, ek_rss):
                annotate_turns(transcripts).count()
            durs.append(ek["annotate_kernel"])
            peak = max(peak, ek_rss["annotate_kernel"])
        rss["annotate_kernel"] = peak
        extras["annotate_kernel"] = min(durs)
        extras_spread["annotate_kernel"] = [round(d, 3) for d in sorted(durs)]

    with stage("annotate", timings, rss):
        annotated = annotate_turns(transcripts).persist(CACHE)
        n_turns = annotated.count()

    with stage("mentions", timings, rss):
        n_mentions = explode_mentions(annotated).count()

    with stage("triples", timings, rss):
        triples = explode_triples(annotated).persist(CACHE)
        n_triples = triples.count()

    with stage("links", timings, rss):
        links = link_surfaces(spark, node_surfaces(triples)).persist(CACHE)
        links.count()

    with stage("canonical", timings, rss):
        # canonicalize localCheckpoints internally (the canonical-map
        # materialization) — no extra persist needed
        canon = canonicalize(links)
        canon.count()

    with stage("edges", timings, rss):
        edges = materialize_edges(triples, canon)
        write_edges(edges, os.path.join(workdir, "edges"))

    annotated.unpersist()
    triples.unpersist()
    links.unpersist()

    total = sum(timings.values())
    return {
        "timings": timings,
        "extras": extras,
        "extras_spread": extras_spread,
        "rss": rss,
        "total": total,
        "turns": n_turns,
        "mentions": n_mentions,
        "triples": n_triples,
        "turns_per_sec": n_turns / total,
        "triples_per_sec": n_triples / total,
    }


TRAINOPS_REPS = 5
TRAINOPS_WARM_REPS = 2


def measure(spark, fn, reps: int, warm_reps: int) -> dict:
    """The one timing protocol of every repeated bench op: ``warm_reps``
    untimed FULL-SIZE passes, then ``reps`` timed passes (cache cleared
    before every pass, so each is steady-state-cold); the MINIMUM is
    reported, with the [min, med, max] spread alongside. Returns
    ``{"value": last result of fn, "min": s, "spread": [min, med, max],
    "rss": peak MiB}``. Three measured reasons:
    (1) the round-3 driver record showed a 6x run-to-run spread on
    single-shot timings (dedup_minhash 3.7/22.9/8.3s on identical code —
    BENCH.md) while isolated steady state held, and a bench whose noise
    floor is 6x cannot catch a real 2x regression (VERDICT r3 item 2).
    (2) the sandbox host has BURSTY ONE-SIDED contention (hypervisor
    steal measured 4-8% even "idle"; one rep of five hit 40s on work
    that takes 3s on a quiet host) — under one-sided noise the minimum
    is the unbiased estimator of the code's cost (the ``timeit``
    rationale: slow reps measure the host, fast reps measure the code),
    and the spread puts the remaining noise in the record itself
    instead of out-of-band reruns. (3) warm-up must be FULL-SIZE: a
    small-slice warm pass does not reach full-size steady state (AQE
    picks different physical plans at full size, so the first full-size
    executions pay their own codegen/JIT ramp — measured on an idle
    host: 7.8/5.1/3.4/3.3/3.0/2.8s over six consecutive full-size
    minhash passes in one fresh JVM), hence ``warm_reps`` full-size
    passes before the clock starts and no separate slice warm-up."""
    durs: list[float] = []
    peaks: list[float] = []
    for _ in range(warm_reps):
        spark.catalog.clearCache()
        fn()  # full-size ramp: codegen/JIT for the full-size plan
    for _ in range(reps):
        # ops may persist intermediates and hold them for the session
        # (the sketch ops do); clear before every rep so each is timed
        # steady-state-cold and nothing accumulates
        spark.catalog.clearCache()
        sampler = RssSampler()
        t0 = time.monotonic()
        with sampler:
            value = fn()
        durs.append(time.monotonic() - t0)
        peaks.append(sampler.peak)
    s = sorted(durs)
    return {
        "value": value,
        "min": s[0],  # min: see docstring (one-sided host noise)
        "spread": [round(s[0], 3), round(s[len(s) // 2], 3), round(s[-1], 3)],
        "rss": max(peaks),
    }


def run_trainops_timed(
    spark,
    sf_dir: str,
    reps: int = TRAINOPS_REPS,
    warm_reps: int = TRAINOPS_WARM_REPS,
) -> dict:
    """Training-data pipeline ops over the driver-provided documents/
    embeddings tables at the bench scale, each timed by ``measure``."""
    from transner_spark.operators.dedup import (
        dedup_minhash_lsh,
        dedup_simhash,
        dedup_substring,
    )
    from transner_spark.operators.simsearch import ann_ivf, ann_lsh
    from transner_spark.operators.textops import doc_fingerprint, lang_id, text_stats

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))

    timings: dict[str, float] = {}
    rss: dict[str, float] = {}
    counts: dict[str, int] = {}
    spread: dict[str, list[float]] = {}

    def record(name: str, fn) -> None:
        m = measure(spark, fn, reps, warm_reps)
        counts[name] = m["value"]
        timings[name] = m["min"]
        rss[name] = m["rss"]
        spread[name] = m["spread"]

    record(
        "textops",
        lambda: text_stats(docs).count()
        + lang_id(docs).count()
        + doc_fingerprint(docs).count(),
    )
    from transner_spark.operators.curation import (
        decontaminate,
        doc_repetition,
        eval_split,
        pack_sequences,
        sample_quota,
        sample_to_mixture,
        train_shards,
    )

    # per-op stages (VERDICT r4: a 3x regression in any single op used
    # to hide inside one six-op sum) — each gets its own min-of-reps +
    # spread row in the record
    ev = eval_split(docs)
    record(
        "decontaminate",
        lambda: decontaminate(docs.where(~ev), docs.where(ev)).count(),
    )
    record("sample_quota", lambda: sample_quota(docs).count())
    record("sample_to_mixture", lambda: sample_to_mixture(docs).count())
    record("doc_repetition", lambda: doc_repetition(docs).count())
    record("pack_sequences", lambda: pack_sequences(docs).count())
    record("train_shards", lambda: train_shards(docs).count())
    from transner_spark.operators.textops import (
        VOCAB_GATE_K,
        tfidf_keywords,
        vocab_topk,
    )

    record(
        "keywords",
        lambda: vocab_topk(docs, k=VOCAB_GATE_K).count()
        + tfidf_keywords(docs).count(),
    )
    record("dedup_minhash", lambda: dedup_minhash_lsh(docs).count())
    # cap raised for the BENCH stage only: sf0.1's hottest window sits at
    # 57 docs vs the operator's 64 default — 11% headroom is too thin for
    # a measurement harness (a slightly hotter regenerated corpus would
    # abort the whole trainops pass); the gate keeps the strict default
    record(
        "dedup_substring",
        lambda: dedup_substring(docs, max_docs_per_window=256).count(),
    )
    record("dedup_simhash", lambda: dedup_simhash(docs).count())
    record("ann_lsh", lambda: ann_lsh(spark, emb).count())
    record("ann_ivf", lambda: ann_ivf(spark, emb).count())
    spark.catalog.clearCache()

    return {"timings": timings, "rss": rss, "counts": counts, "spread": spread}


def run_trainops_leg(sf_dir: str, cpus: int) -> None:
    """Trainops phase in an ISOLATED subprocess (spawned by main):
    sharing the KG phase's JVM lets its grown heap / GC state / block
    manager bleed into the trainops measurements — the round-3 driver
    record's 6x dedup_minhash swing happened exactly there, while the
    same code in a fresh JVM held steady (BENCH.md). Same cold-JVM
    policy as the scaling legs. Prints one JSON line."""
    spark = build_session(f"local[{cpus}]", cpus)
    r = run_trainops_timed(spark, sf_dir)
    spark.stop()
    print(json.dumps(r))


def _run_child(extra_argv: list[str], label: str, env: dict | None = None) -> dict:
    """Spawn a cold-JVM bench leg of this same script and parse the JSON
    line it prints; surface the child's Spark/JVM stderr on failure
    instead of an opaque CalledProcessError. ONE helper for every
    subprocess leg (trainops + scaling levels) so spawn/parse/error
    handling can't drift between them."""
    import subprocess

    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *extra_argv],
        capture_output=True,
        text=True,
        env=env,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-8000:])
        raise RuntimeError(
            f"{label} failed (rc={proc.returncode}); child stderr above"
        )
    return json.loads(lines[-1])


def _run_trainops_subprocess(sf_dir: str, cpus: int) -> dict:
    return _run_child(
        ["--trainops-leg"],
        "trainops leg",
        env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir,
             "SPARK_GRAFT_CPUS": str(cpus)},
    )


def run_scaling_level(n: int) -> None:
    """One scaling leg in an ISOLATED process (spawned by --scaling):
    sharing a python process/JVM across legs lets heap growth, GC state,
    and fragmentation from earlier (wider) legs bleed into later
    measurements — a subprocess per leg gives each level the same cold
    JVM. Prints one JSON line."""
    import shutil
    import tempfile

    corpus = ensure_scaling_corpus()
    workdir = tempfile.mkdtemp(prefix=f"transner_lvl{n}_")
    try:
        spark = build_session(f"local[{n}]", n)
        r = run_pipeline_timed(spark, "", workdir, transcripts_path=corpus)
        spark.stop()
        print(json.dumps(r))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _run_level_subprocess(n: int) -> dict:
    return _run_child(["--level", str(n)], f"scaling leg local[{n}]")


SECTION_REPS = 3
SECTION_WARM_REPS = 1
# hub guard of the two-hop and shared-neighbor sections
# (max_mid_degree / max_neighbor_degree)
HUB_BOUND = 64
# skew-join workload: key 0 carries SKEW_HOT_SHARE of SKEW_ROWS fact
# rows, the rest spread uniformly over SKEW_KEYS keys
SKEW_ROWS = 40_000_000
SKEW_HOT_SHARE = 0.3
SKEW_KEYS = 10_000


def upsert_section(name: str, body: str) -> None:
    """Replace BENCH.md's ``<!-- NAME:BEGIN -->`` … ``<!-- NAME:END -->``
    block with ``body``, or append the block when it is missing. The
    scaling report (``_write_bench_md``) carries every such block over
    unchanged."""
    begin, end = f"<!-- {name}:BEGIN -->", f"<!-- {name}:END -->"
    section = f"{begin}\n{body}\n{end}"
    text = ""
    if os.path.exists(BENCH_MD):
        with open(BENCH_MD) as f:
            text = f.read()
    if begin in text and end in text:
        head, rest = text.split(begin, 1)
        text = head + section + rest.split(end, 1)[1]
    else:
        text = text.rstrip("\n") + "\n\n" + section + "\n"
    with open(BENCH_MD, "w") as f:
        f.write(text)


@contextmanager
def _confs(spark, confs: dict[str, str]):
    """Set session confs for the block, then restore the old values."""
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _cells(m: dict) -> str:
    """Wall-time table cells of one measured op: min and spread."""
    return f"{m['min']:.2f} | {m['spread']}"


def _two_hop_section(kg: dict, timed, intro: str) -> str:
    from pyspark.sql import functions as F

    from transner_spark.operators.graph import graph_two_hop, two_hop_dropped_mids

    edges = kg["edges"]
    off = timed(lambda: graph_two_hop(edges).count())
    on = timed(lambda: graph_two_hop(edges, max_mid_degree=HUB_BOUND).count())
    drops = (
        two_hop_dropped_mids(edges, HUB_BOUND)
        .orderBy(F.desc("deg"), "mid")
        .collect()
    )
    top = ", ".join(f"{r['mid']} (deg {r['deg']})" for r in drops[:5])
    n_off, n_on = off["value"], on["value"]
    return f"""## Two-hop hub guard (skewed corpus, measured)

{intro}

`graph_two_hop` with and without `max_mid_degree={HUB_BOUND}` — the
guard drops super-node middles BEFORE the self-join, bounding the
quadratic hub fan-out; dropped hubs are observable via
`two_hop_dropped_mids` (same degree definition, complement predicate).

| guard | output rows | wall min (s) | spread (s) | middles dropped |
| --- | --- | --- | --- | --- |
| off (None) | {n_off} | {_cells(off)} | 0 |
| max_mid_degree={HUB_BOUND} | {n_on} | {_cells(on)} | {len(drops)} |

Dropped hubs (top by degree): {top or 'none'}.

The guard removes {n_off - n_on} of {n_off} pair rows
({100 * (n_off - n_on) / max(1, n_off):.1f}%) — the quadratic blow-up
concentrated in a handful of hub middles; at 10^12-turn scale those hubs
are what turns a self-join into a job-killer, and the guard bounds any
middle's contribution to ≤ {HUB_BOUND}² pairs."""


def _graph_section(kg: dict, timed, intro: str) -> str:
    from pyspark.sql import functions as F

    from transner_spark.operators.graph import (
        _oriented,
        _undirected,
        _undirected_degrees,
        graph_similarity,
        graph_triangles,
        similarity_dropped_hubs,
    )

    edges = kg["edges"]
    und = _undirected(edges)
    deg = _undirected_degrees(und)
    max_deg = deg.agg(F.max("deg")).first()[0]
    # the OPERATOR's own orientation (shared helper), not a re-derivation
    max_out = (
        _oriented(und, deg).groupBy("src").count().agg(F.max("count")).first()[0]
    )
    tri = timed(lambda: graph_triangles(edges).count())
    off = timed(lambda: graph_similarity(edges).count())
    on = timed(
        lambda: graph_similarity(edges, max_neighbor_degree=HUB_BOUND).count()
    )
    drops = (
        similarity_dropped_hubs(edges, HUB_BOUND)
        .orderBy(F.desc("nb_degree"), "nb")
        .collect()
    )
    top = ", ".join(f"{r['nb']} (deg {r['nb_degree']})" for r in drops[:5])
    n_off, n_on = off["value"], on["value"]
    return f"""## Graph analytics: triangles + shared-neighbor similarity (skewed corpus, measured)

{intro}

**Orientation bound (`graph_triangles`)**: max raw undirected degree
{max_deg} vs max ORIENTED out-degree {max_out} — the wedge join's
quadratic step fans out on the oriented degree, so the hot entity's
{max_deg}-way star never pivots; the worst wedge cost is {max_out}², not
{max_deg}².

| op | output rows | wall min (s) | spread (s) | hubs dropped |
| --- | --- | --- | --- | --- |
| graph_triangles | {tri['value']} | {_cells(tri)} | n/a (orientation) |
| graph_similarity (unguarded) | {n_off} | {_cells(off)} | 0 |
| graph_similarity (max_neighbor_degree={HUB_BOUND}) | {n_on} | {_cells(on)} | {len(drops)} |

Dropped shared-neighbor hubs (top by degree): {top or 'none'}.

The guard removes {n_off - n_on} of {n_off} pair rows
({100 * (n_off - n_on) / max(1, n_off):.1f}%) — the shared-neighbor
join's blow-up concentrates in the same hub nodes two-hop guards
against; any witness's contribution is bounded to ≤ {HUB_BOUND}² pairs."""


def _walks_section(kg: dict, timed, intro: str) -> str:
    from pyspark.sql import functions as F

    from transner_spark.operators.graph import _undirected, _undirected_degrees
    from transner_spark.operators.materialize import PROVENANCE_K, edge_provenance
    from transner_spark.operators.walks import (
        RW_SEEDS,
        RW_WALKS,
        random_walks,
        walk_skipgrams,
    )

    edges = kg["edges"]
    deg = _undirected_degrees(_undirected(edges))
    n_nodes = deg.count()
    max_deg = deg.agg(F.max("deg")).first()[0]
    all_nodes = deg.select(F.col("node").alias("node_id"))
    gate = timed(lambda: random_walks(edges).count())
    full = timed(lambda: random_walks(edges, seeds=all_nodes).count())
    sg = timed(lambda: walk_skipgrams(edges, seeds=all_nodes).count())
    pv = timed(lambda: edge_provenance(kg["triples"], kg["canonical"]).count())
    walkers = RW_WALKS * n_nodes
    return f"""## Walk corpus + provenance (skewed corpus, measured)

{intro}

The KG has {n_nodes} nodes and max undirected degree {max_deg} (the hot
entity); provenance reads the committed `triples` and `canonical`
tables.

| op | walkers/input | rows | wall min (s) | spread (s) |
| --- | --- | --- | --- | --- |
| random_walks (gate shape: {RW_SEEDS} top-degree seeds) | {RW_SEEDS * RW_WALKS} walkers | {gate['value']} | {_cells(gate)} |
| random_walks (full DeepWalk: every node a seed) | {walkers} walkers | {full['value']} | {_cells(full)} |
| walk_skipgrams (full corpus) | {walkers} walks | {sg['value']} | {_cells(sg)} |
| edge_provenance (k={PROVENANCE_K}, salted two-phase) | {kg['n_edges']} edges | {pv['value']} | {_cells(pv)} |

The full-corpus walk visits every node including the degree-{max_deg}
hub; per-step cost is one broadcast degree join + one composite-key
(node, rank) equi-join, so the fleet scales with walker count — no
per-neighbor fan-out, no wide adjacency arrays (PLANS.md graph_walks
row). Provenance ranks citations inside (edge, salt) frames first, so
the hot edge never materializes an edge-sized window frame."""


def _bucketed_section(spark, kg: dict, timed, intro: str) -> str:
    import re

    from pyspark.sql import functions as F

    edges = kg["edges"]
    # hot subject for the point-lookup workload
    hot = (
        edges.groupBy("subj_id")
        .count()
        .orderBy(F.desc("count"), "subj_id")
        .first()["subj_id"]
    )
    rows = []
    # broadcast off so the shuffle question is visible; autoBucketedScan
    # off so the filter-only lookup keeps the prunable bucketed scan
    # (pinned by test_bucketed_edges_point_lookup_*)
    with _confs(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.sources.bucketing.autoBucketedScan.enabled": "false",
        },
    ):
        for layout, t in (("plain parquet (`edges`)", edges),
                          ("bucketed table (`serving`)", kg["serving"])):
            workloads = {
                "join": lambda t=t: t.alias("a").join(t.alias("b"), "subj_id"),
                "agg": lambda t=t: t.groupBy("subj_id").agg(
                    F.sum("weight").alias("w")
                ),
                "lookup": lambda t=t: t.where(F.col("subj_id") == hot),
            }
            for wl, make in workloads.items():
                m = timed(lambda make=make: make().count())
                plan = _plan(make())
                if wl == "lookup":
                    sel = re.search(r"SelectedBucketsCount: (\d+ out of \d+)", plan)
                    note = f"buckets {sel.group(1)}" if sel else "no pruning"
                else:
                    note = str(plan.count("Exchange hashpartitioning"))
                rows.append(
                    f"| {layout} | {wl} on subj_id | {m['value']} | {_cells(m)} | {note} |"
                )
    table = "\n".join(rows)
    return f"""## Bucketed serving layout (edge table, measured)

{intro}

The plain side is the committed `edges` stage (a parquet directory);
the bucketed side is the `serving` stage, the same edges as a
Spark-native bucketed table (`write_edges_bucketed`:
`bucketBy(64, subj_id) + sortBy`, session catalog). Workloads:
self-equi-join, groupBy rollup, and hot-subject point lookup on
`subj_id` — the access patterns two-hop, edge-diff, incremental merge,
entity rollups, and entity serving repeat. Broadcast disabled so the
shuffle question is visible; autoBucketedScan disabled so the
filter-only lookup keeps the prunable bucketed scan.

| layout | workload | rows | wall min (s) | spread (s) | shuffle Exchanges / pruning |
| --- | --- | --- | --- | --- | --- |
{table}

The bucketed layout runs the join and agg workloads with **zero**
shuffle Exchanges — the write-time shuffle is amortized across every
read — and the point lookup reads **one bucket of 64** (bucket pruning;
the plain directory scans every file). Plan pins:
tests/test_plan_shapes.py::test_bucketed_edges_*. At sf0.1 the edge
table is dim-sized so the wall delta is modest; the Exchange and
SelectedBucketsCount figures are the scale-relevant facts — each
eliminated Exchange is a full table shuffle, and a pruned point lookup
touches 1/64th of the KG's files, at 10^12-turn scale the difference
between a serving query and a table scan."""


def _skew_join_section(spark, cpus: int, timed, proto: str) -> str:
    """A deterministic Zipf-shaped fact table joined to a per-key dim with
    broadcast disabled, per-row sha2 inside the join stage so the hot
    shuffle partition concentrates real CPU on one task. Legs: skew
    handling off (naive), manual two-sided salting with the fan-out
    ``profile_skew`` derives, and AQE skew-join with thresholds scaled
    to the corpus — its split is checked in the executed plan."""
    from pyspark.sql import functions as F

    from transner_spark.operators.skew import profile_skew

    # pmod(id, 10) < 3 routes SKEW_HOT_SHARE of ids to key 0
    hot_mod = int(SKEW_HOT_SHARE * 10)
    fact = spark.range(SKEW_ROWS).select(
        F.when(F.pmod("id", F.lit(10)) < hot_mod, F.lit(0))
        .otherwise(F.pmod("id", F.lit(SKEW_KEYS)))
        .cast("long")
        .alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(SKEW_KEYS).select(
        F.col("id").alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("attr"),
    )
    hot = profile_skew(
        fact, ["k"], top_k=1, rows_per_task=max(1, SKEW_ROWS // cpus)
    ).first()
    salt = int(hot["salt_factor"])

    def leg(salt_arg: int | None) -> dict:
        def run() -> bool:
            if salt_arg is None:
                joined = fact.join(dim, "k")
            else:
                # fact rows scatter over salt buckets, the dim
                # replicates across all of them
                joined = fact.withColumn(
                    "s", F.pmod(F.hash("payload"), F.lit(salt_arg))
                ).join(
                    dim.withColumn(
                        "s", F.explode(F.sequence(F.lit(0), F.lit(salt_arg - 1)))
                    ),
                    ["k", "s"],
                )
            out = joined.select(
                F.sha2(F.concat_ws(":", "payload", "attr"), 256).alias("h")
            ).agg(
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col("h").startswith("00"), 1)).alias("n00"),
            )
            assert out.collect()[0]["n"] > 0
            plan = _plan(out)
            return "skew=true" in plan or "skewed" in plan

        return timed(run)

    no_bcast = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    with _confs(spark, {**no_bcast, "spark.sql.adaptive.skewJoin.enabled": "false"}):
        legs = {"naive": leg(None), "salted": leg(salt)}
    with _confs(
        spark,
        {
            **no_bcast,
            "spark.sql.adaptive.skewJoin.enabled": "true",
            # defaults target 256 MB cluster partitions; scale to corpus
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        },
    ):
        legs["aqe"] = leg(None)
    if not legs["aqe"]["value"]:
        raise RuntimeError(
            "AQE leg did not split the skewed partition — thresholds no "
            "longer match the corpus; evidence would be vacuous."
        )
    naive = legs["naive"]["min"]
    rows = "\n".join(
        f"| {label} | {_cells(legs[k])} | {naive / legs[k]['min']:.2f}x"
        f" | {legs[k]['value']} |"
        for k, label in (
            ("naive", "naive (skew handling off)"),
            ("aqe", "AQE skew-join (thresholds scaled to corpus)"),
            ("salted", f"salted (profiler-derived x{salt})"),
        )
    )
    return f"""## Skew-join mitigation (measured)

Deterministic Zipf fact ({SKEW_ROWS:,} rows generated in-plan, key 0 =
{int(SKEW_HOT_SHARE * 100)}% of rows, measured skew_x
{float(hot['skew_x']):.1f}) joined to a {SKEW_KEYS:,}-key dim, broadcast
disabled, per-row sha2 inside the join stage. `profile_skew` derived
`salt_factor={salt}` at rows_per_task=N/cores — the knob the salted leg
feeds straight in.

{proto}

| leg | wall min (s) | spread (s) | vs naive | skew split in plan |
| --- | --- | --- | --- | --- |
{rows}

AQE's split is verified in the executed plan, not assumed. The salted
leg is the mitigation that also covers skewed AGGREGATES
(materialize_edges' two-phase salted rollup), which AQE skew-join does
not touch. At cluster scale the same legs apply with default
thresholds (256 MB partitions); the profiler's salt_factor scales with
the measured hot-key count, not with this sandbox."""


def run_sections(sf_dir: str, cpus: int) -> None:
    """``--sections``: regenerate BENCH.md's evidence sections over ONE
    KG, built by the shipped ``PipelineRun`` on ``sf_dir``; every op is
    timed by ``measure``; each section is written as soon as it is
    measured."""
    import shutil
    import tempfile

    from transner_spark.plans.pipeline import PipelineRun
    from transner_spark.sources.transcripts import ensure_transcripts_parquet, sf_name

    spark = build_session(f"local[{cpus}]", cpus)
    workdir = tempfile.mkdtemp(prefix="transner_sections_")
    try:
        transcripts = spark.read.parquet(ensure_transcripts_parquet(REPO, sf_dir))
        kg = PipelineRun(spark, workdir).run(transcripts)
        kg["n_edges"] = kg["edges"].count()
        proto = (
            f"Protocol: local[{cpus}] (cpus={cpus}), every op "
            f"{SECTION_WARM_REPS} full-size warm rep then min of "
            f"{SECTION_REPS} reps, spread = [min, med, max]."
        )
        intro = (
            f"KG: {sf_name(sf_dir)}, {kg['n_edges']} edges, built once by "
            "`PipelineRun` (`python bench.py --sections`; generator-default "
            "skew: one hot entity pair in ~20% of conversations). " + proto
        )

        def timed(fn) -> dict:
            return measure(spark, fn, SECTION_REPS, SECTION_WARM_REPS)

        sections = {
            "TWO_HOP_GUARD": lambda: _two_hop_section(kg, timed, intro),
            "GRAPH_ANALYTICS": lambda: _graph_section(kg, timed, intro),
            "WALKS_PROVENANCE": lambda: _walks_section(kg, timed, intro),
            "BUCKETED_EDGES": lambda: _bucketed_section(spark, kg, timed, intro),
            "SKEW_JOIN": lambda: _skew_join_section(spark, cpus, timed, proto),
        }
        for name, build in sections.items():
            upsert_section(name, build())
            print(f"{name}: written to BENCH.md", file=sys.stderr)
    finally:
        spark.stop()
        shutil.rmtree(workdir, ignore_errors=True)


def main() -> None:
    import shutil
    import tempfile

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    scaling = "--scaling" in sys.argv
    if "--level" in sys.argv:
        run_scaling_level(int(sys.argv[sys.argv.index("--level") + 1]))
        return
    if "--trainops-leg" in sys.argv:
        run_trainops_leg(sf_dir, cpus)
        return
    if "--sections" in sys.argv:
        run_sections(sf_dir, cpus)
        return

    workdir = tempfile.mkdtemp(prefix="transner_bench_")
    try:
        spark = build_session(f"local[{cpus}]", cpus)
        # THREE full pipeline passes, per-stage MIN (same one-sided-noise
        # rationale as the trainops reps — run_trainops_timed docstring;
        # the first pass also absorbs any ramp the sampled warm-up
        # missed). Two passes proved too thin against this host's bursty
        # stalls — the r2→r4 driver-record wall "drift" (19.62→21.64s on
        # an unchanged chain) sat inside the per-stage rep spread; a
        # third rep tightens the min (round-5 drift investigation,
        # BENCH.md). Per-stage sorted [r1, r2, r3] spread goes in the
        # record.
        runs = [run_pipeline_timed(spark, sf_dir, workdir, measure_kernel=True)]
        for i in (2, 3):
            runs.append(
                run_pipeline_timed(
                    spark, sf_dir, os.path.join(workdir, f"r{i}"),
                    measure_kernel=False,
                )
            )
        res = runs[0]
        res["pipeline_spread_s"] = {
            k: sorted(round(r["timings"][k], 3) for r in runs)
            for k in res["timings"]
        }
        res["timings"] = {
            k: min(r["timings"][k] for r in runs) for k in res["timings"]
        }
        # runs[0]'s rss also holds the kernel-only pass (absent later)
        res["rss"] = {
            k: max(r["rss"].get(k, res["rss"][k]) for r in runs)
            for k in res["rss"]
        }
        res["total"] = sum(res["timings"].values())
        res["turns_per_sec"] = res["turns"] / res["total"]
        res["triples_per_sec"] = res["triples"] / res["total"]
        spark.stop()
        # trainops in its own cold-JVM subprocess + min-of-reps per op —
        # see run_trainops_leg / run_trainops_timed
        tops = _run_trainops_subprocess(sf_dir, cpus)

        from transner_spark.sources.transcripts import sf_name

        stage_rss = {**res["rss"], **tops["rss"]}
        peaks = list(stage_rss.values())
        out = {
            "metric": "kg_pipeline_wall",
            "value": round(res["total"], 3),
            "unit": "sec",
            "queries": {
                **{k: round(v, 3) for k, v in res["extras"].items()},
                **{k: round(v, 3) for k, v in res["timings"].items()},
                **{k: round(v, 3) for k, v in tops["timings"].items()},
            },
            "trainops_counts": tops["counts"],
            # per-op [min, median, max] over TRAINOPS_REPS cold-cache
            # reps in the isolated trainops JVM, per-stage [run1, run2]
            # over the two pipeline passes, and min-of-3 sorted reps for
            # annotate_kernel — the noise floor is in the record, not in
            # out-of-band reruns; NO single-shot timing anywhere
            "trainops_spread_s": tops["spread"],
            "pipeline_spread_s": {
                **res.get("extras_spread", {}),
                **res["pipeline_spread_s"],
            },
            # reference bench protocol's memory axis (benchmarks.py:59-79
            # reports max/min/avg MiB over per-run memory_usage samples):
            # per-stage peak process-tree RSS + the same three aggregates
            "rss_mib": {
                **{k: round(v, 1) for k, v in stage_rss.items()},
                "max": round(max(peaks), 1),
                "min": round(min(peaks), 1),
                "avg": round(sum(peaks) / len(peaks), 1),
            },
            "sf": sf_name(sf_dir),
            "turns": res["turns"],
            "mentions": res["mentions"],
            "triples": res["triples"],
            "turns_per_sec": round(res["turns_per_sec"], 1),
            "triples_per_sec": round(res["triples_per_sec"], 1),
        }

        if scaling:
            ensure_scaling_corpus()
            # SCALING_REPS cold-JVM reps per level, round-robin; keep the
            # min-total rep per level and record the wall spread — see
            # the SCALING_REPS rationale above
            rep_results: dict[int, list[dict]] = {n: [] for n in SCALING_LEVELS}
            for rep in range(max(SCALING_REPS.values())):
                for n in SCALING_LEVELS:
                    if rep < SCALING_REPS[n]:
                        sys.stderr.write(f"[scaling] rep {rep} local[{n}]\n")
                        rep_results[n].append(_run_level_subprocess(n))
            levels = {
                n: min(rs, key=lambda r: r["total"])
                for n, rs in rep_results.items()
            }
            leg_spread = {
                n: sorted(round(r["total"], 2) for r in rs)
                for n, rs in rep_results.items()
            }
            effs = {
                (lo, hi): (
                    levels[hi]["triples_per_sec"] / levels[lo]["triples_per_sec"]
                ) / (hi / lo)
                for lo, hi in SCALING_PAIRS
            }
            out["scaling"] = {
                **{
                    f"local{n}_triples_per_sec": round(
                        levels[n]["triples_per_sec"], 1
                    )
                    for n in SCALING_LEVELS
                },
                **{
                    f"efficiency_{lo}v{hi}": round(e, 3)
                    for (lo, hi), e in effs.items()
                },
                "efficiency": round(effs[SCALING_PAIRS[0]], 3),
                "leg_wall_spread_s": {
                    str(n): leg_spread[n] for n in SCALING_LEVELS
                },
            }
            _write_bench_md(sf_dir, levels, effs, leg_spread)

        print(json.dumps(out))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _write_bench_md(
    sf_dir: str, levels: dict, effs: dict, leg_spread: dict | None = None
) -> None:
    lo, hi = SCALING_PAIRS[0]
    lines = [
        "# BENCH — scaling evidence (north rule: N vs 4N)",
        "",
        f"Input: deterministic synthetic transcripts, {levels[lo]['turns']} "
        f"turns, 64 parquet splits — the same data at every parallelism "
        f"level (the sandbox proxy for N- vs 4N-executor clusters). Each "
        "leg runs in its own subprocess (cold JVM — sharing one process "
        "lets heap/GC state from earlier legs contaminate later ones; "
        "measured: the in-process local[32] leg ran 2x slower than the "
        "isolated one) and is preceded by a full-pipeline warm-up pass, "
        "so the metric is steady-state pipeline throughput.",
        "",
        f"Headline pair local[{lo}] vs local[{hi}]: in local mode every "
        "'executor core' costs ~2 host threads (a JVM task thread plus an "
        "Arrow python worker), so this 32-core host saturates near "
        "local[16] — a measured sweep of the annotate stage gives "
        "0.33/0.35/0.48/1.01 core-ms/turn at local[4/8/16/32]. N vs 4N "
        "must be measured in the unsaturated region to evidence the "
        "PIPELINE's scaling rather than host oversubscription; on a real "
        "cluster 4N executors add machines, not contended threads. The "
        "saturated local[8]v[32] figure is reported alongside for "
        "transparency about the proxy's sensitivity to level choice.",
        "",
        "| parallelism | wall (s) | turns/s | triples/s |",
        "| --- | --- | --- | --- |",
    ]
    for n in SCALING_LEVELS:
        r = levels[n]
        lines.append(
            f"| local[{n}] | {r['total']:.2f} | {r['turns_per_sec']:.1f} | "
            f"{r['triples_per_sec']:.1f} |"
        )
    lines.append("")
    if leg_spread:
        lines += [
            "Per level: min-total of "
            + "/".join(str(SCALING_REPS[n]) for n in SCALING_LEVELS)
            + " cold-JVM reps (local["
            + "/".join(str(n) for n in SCALING_LEVELS)
            + "]), round-robin so a host burst window hits at most one rep "
            "per level (the sandbox host delivers multi-second stalls that "
            "land on a different stage each run — min is the unbiased "
            "estimator under one-sided noise, as for the trainops reps). "
            "Wall spread across reps: "
            + "; ".join(
                f"local[{n}] {leg_spread[n]}" for n in SCALING_LEVELS
            )
            + ".",
            "",
        ]
    for (plo, phi), e in effs.items():
        label = "headline, unsaturated region" if (plo, phi) == SCALING_PAIRS[0] \
            else "saturated region: measures host thread contention too"
        lines.append(
            f"**Scaling efficiency local[{plo}]→local[{phi}]: "
            f"(throughput_{phi} / throughput_{plo}) / {phi // plo} = "
            f"{e:.3f}** ({label})."
        )
    lines += [
        "",
        "Target ≥ 0.8 on the headline pair (BASELINE.json north rule).",
        "",
        "Per-stage timings and peak process-tree RSS (driver + JVM + "
        "Arrow workers; the sandbox mirror of the reference bench "
        "protocol's max/min/avg-MiB memory axis, benchmarks.py:59-79):",
        "",
        "| stage | "
        + " | ".join(f"local[{n}] s" for n in SCALING_LEVELS)
        + " | "
        + " | ".join(f"local[{n}] MiB" for n in SCALING_LEVELS)
        + " |",
        "| --- |" + " --- |" * (2 * len(SCALING_LEVELS)),
    ]
    for k in levels[lo]["timings"]:
        lines.append(
            f"| {k} | "
            + " | ".join(f"{levels[n]['timings'][k]:.2f}" for n in SCALING_LEVELS)
            + " | "
            + " | ".join(
                f"{levels[n]['rss'][k]:.0f}" for n in SCALING_LEVELS
            )
            + " |"
        )
    # preserve EVERY marker-delimited section other writers maintain
    # (<!-- NAME:BEGIN --> ... <!-- NAME:END -->: the `--sections`
    # evidence blocks written by upsert_section, the hand-maintained
    # NOTES block, anything added later) across regenerations of the
    # scaling report — a generic sweep, so a new block never needs a
    # change here and a renamed block can't silently stop being preserved
    preserved = ""
    if os.path.exists(BENCH_MD):
        import re as _re

        with open(BENCH_MD) as f:
            old = f.read()
        for m in _re.finditer(
            r"<!-- ([A-Z0-9_]+):BEGIN -->.*?<!-- \1:END -->", old, _re.S
        ):
            preserved += "\n\n" + m.group(0)
    with open(BENCH_MD, "w") as f:
        f.write("\n".join(lines) + preserved + "\n")


if __name__ == "__main__":
    main()
