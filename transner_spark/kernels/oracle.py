"""Single-node oracle: the whole KG pipeline over pandas DataFrames.

pytest compares every Spark operator against these functions; the golden
generator freezes their outputs to parquet for the DuckDB correctness gate.
They call the SAME kernels the Spark UDFs call — parity by construction —
and keep columns/dtypes identical to the Spark operators' schemas.
"""

from __future__ import annotations

import pandas as pd

from transner_spark.config import MAX_TURN_WORDS, PipelineConfig
from transner_spark.kernels import canonical, linking
from transner_spark.kernels.ner_pipeline import ner_batch
from transner_spark.kernels.triples import extract_triples_turn

MENTION_COLUMNS = [
    "conv_id", "turn_idx", "mention_id", "type", "value", "offset",
    "confidence", "source",
]
TRIPLE_COLUMNS = [
    "conv_id", "turn_idx", "subj_value", "subj_type", "subj_norm", "pred",
    "obj_value", "obj_type", "obj_norm", "confidence",
]
STRUCTURAL_TYPES = ("AGENT", "TOOL")
LINK_COLUMNS = ["norm_key", "entity_key", "score", "method"]
CANON_COLUMNS = ["node_id", "canon_id"]
EDGE_COLUMNS = ["subj_id", "pred", "obj_id", "weight", "first_ts", "last_ts"]


def _mention_dtypes(df: pd.DataFrame) -> pd.DataFrame:
    return df.astype(
        {"turn_idx": "int32", "mention_id": "int32", "offset": "int32",
         "confidence": "float64"}
    )


def oracle_mentions(transcripts: pd.DataFrame, cfg: PipelineConfig | None = None) -> pd.DataFrame:
    """turns → mentions (one row per entity, append order per turn)."""
    cfg = cfg or PipelineConfig()
    kept = transcripts[transcripts["text"].str.split().str.len() <= MAX_TURN_WORDS]
    results = ner_batch(kept["text"].tolist(), cfg=cfg)
    rows = []
    for (_, turn), res in zip(kept.iterrows(), results):
        for mid, e in enumerate(res["entities"]):
            rows.append(
                (turn["conv_id"], turn["turn_idx"], mid, e["type"], e["value"],
                 e["offset"], e["confidence"], e["source"])
            )
    out = pd.DataFrame(rows, columns=MENTION_COLUMNS)
    if out.empty:
        out = pd.DataFrame({c: pd.Series(dtype="object") for c in MENTION_COLUMNS})
        out = out.astype({"turn_idx": "int64", "mention_id": "int64", "offset": "int64"})
    return _mention_dtypes(out)


def oracle_triples(transcripts: pd.DataFrame, mentions: pd.DataFrame) -> pd.DataFrame:
    by_turn: dict[tuple, list[dict]] = {}
    for r in mentions.itertuples(index=False):
        by_turn.setdefault((r.conv_id, r.turn_idx), []).append(
            {"type": r.type, "value": r.value, "offset": int(r.offset),
             "confidence": float(r.confidence)}
        )
    rows = []
    for t in transcripts.itertuples(index=False):
        ms = by_turn.get((t.conv_id, t.turn_idx), [])
        for tr in extract_triples_turn(t.text, ms, t.role, t.tool):
            rows.append(
                (t.conv_id, t.turn_idx, tr["subj_value"], tr["subj_type"],
                 tr["subj_norm"], tr["pred"], tr["obj_value"], tr["obj_type"],
                 tr["obj_norm"], tr["confidence"])
            )
    out = pd.DataFrame(rows, columns=TRIPLE_COLUMNS)
    if out.empty:
        out = pd.DataFrame({c: pd.Series(dtype="object") for c in TRIPLE_COLUMNS})
    return out.astype({"turn_idx": "int32", "confidence": "float64"})


def _node_surfaces(triples: pd.DataFrame) -> pd.DataFrame:
    """Distinct normalized (non-structural) node surfaces from triples."""
    norms: set[str] = set()
    for r in triples.itertuples(index=False):
        if r.subj_type not in STRUCTURAL_TYPES and r.subj_norm:
            norms.add(r.subj_norm)
        if r.obj_type not in STRUCTURAL_TYPES and r.obj_norm:
            norms.add(r.obj_norm)
    return pd.DataFrame({"norm_key": sorted(norms)})


def oracle_links(triples: pd.DataFrame, cfg: PipelineConfig | None = None) -> pd.DataFrame:
    """Distinct node surfaces → alias-dictionary links."""
    cfg = cfg or PipelineConfig()
    norms = _node_surfaces(triples)["norm_key"].tolist()
    index = linking.alias_index(cfg.link_ngram)
    links = linking.link_norms(norms, index, cfg.link_jaccard_threshold)
    out = pd.DataFrame(
        [(norm, *link) for norm, link in zip(norms, links)], columns=LINK_COLUMNS
    )
    if out.empty:
        out = pd.DataFrame({c: pd.Series(dtype="object") for c in LINK_COLUMNS})
    return out.astype({"score": "float64"})


def oracle_canonical(links: pd.DataFrame) -> pd.DataFrame:
    """Connected components over surface↔entity edges; every node gets the
    lexicographic-min member of its component as canon_id."""
    edges = []
    for r in links.itertuples(index=False):
        surface_node = "surface:" + r.norm_key
        if r.entity_key is not None and not pd.isna(r.entity_key):
            edges.append((surface_node, r.entity_key))
        else:
            edges.append((surface_node, surface_node))
    comp = canonical.connected_components(edges)
    out = pd.DataFrame(sorted(comp.items()), columns=CANON_COLUMNS)
    if out.empty:
        out = pd.DataFrame({c: pd.Series(dtype="object") for c in CANON_COLUMNS})
    return out


def resolve_node(norm: str, type_: str, canon_map: dict[str, str]) -> str:
    if type_ in STRUCTURAL_TYPES:
        return norm
    return canon_map.get("surface:" + norm, "surface:" + norm)


def oracle_edges(
    transcripts: pd.DataFrame,
    triples: pd.DataFrame,
    canon: pd.DataFrame,
) -> pd.DataFrame:
    """Resolve triples through canon ids, aggregate to weighted edges."""
    canon_map = dict(zip(canon["node_id"], canon["canon_id"]))
    ts_map = {
        (t.conv_id, t.turn_idx): t.ts for t in transcripts.itertuples(index=False)
    }
    rows = []
    for r in triples.itertuples(index=False):
        subj = resolve_node(r.subj_norm, r.subj_type, canon_map)
        obj = resolve_node(r.obj_norm, r.obj_type, canon_map)
        rows.append((subj, r.pred, obj, ts_map[(r.conv_id, r.turn_idx)]))
    if not rows:
        out = pd.DataFrame({c: pd.Series(dtype="object") for c in EDGE_COLUMNS})
        return out.astype({"weight": "int64"})
    df = pd.DataFrame(rows, columns=["subj_id", "pred", "obj_id", "ts"])
    agg = (
        df.groupby(["subj_id", "pred", "obj_id"], as_index=False)
        .agg(weight=("ts", "size"), first_ts=("ts", "min"), last_ts=("ts", "max"))
    )
    agg["weight"] = agg["weight"].astype("int64")
    return agg[EDGE_COLUMNS]


def run_oracle_pipeline(
    transcripts: pd.DataFrame, cfg: PipelineConfig | None = None
) -> dict[str, pd.DataFrame]:
    cfg = cfg or PipelineConfig()
    mentions = oracle_mentions(transcripts, cfg)
    triples = oracle_triples(transcripts, mentions)
    links = oracle_links(triples, cfg)
    canon = oracle_canonical(links)
    edges = oracle_edges(transcripts, triples, canon)
    return {
        "mentions": mentions,
        "triples": triples,
        "links": links,
        "canonical": canon,
        "edges": edges,
    }
