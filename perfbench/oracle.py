"""Output checks against the engine's DuckDB value oracles.

The oracles are the SQL in ``oracle_sql.py`` that the correctness gate
already runs at sf0.01. Here they run over the benchmark's generated
tables: the KG chain over whole conversations, the dedup family over whole
document families (clusters never cross families, so restricting the
engine's output to a family subset is exact).
"""

from __future__ import annotations

import re

import duckdb
import numpy as np
import pandas as pd

from runne_contrastive_ner_spark.functions.hashing import md5_int
from runne_contrastive_ner_spark.functions.vocab import TEST_ALIASES, TEST_GAZETTEER
from runne_contrastive_ner_spark.oracle_sql import DEDUP, KG, TEXTSTATS
from runne_contrastive_ner_spark.operators.predicates import PRED_CO_OCCURS
from runne_contrastive_ner_spark.sources.transcripts import DUCKDB_TRANSCRIPTS_SQL

_TRANSCRIPTS_CTE = f"transcripts AS ({DUCKDB_TRANSCRIPTS_SQL})"
ANCHOR = "~anchor"


def triple_key(conv_id, subj, pred, obj, turn) -> tuple:
    """Order-free form of one triple: co-occurrence is symmetric, and the
    engine orders its pair by integer entity id while the oracle orders by
    canonical string."""
    if pred == PRED_CO_OCCURS and subj > obj:
        subj, obj = obj, subj
    return (conv_id, int(subj), pred, int(obj), int(turn))


def sample_conversations(
    turns: pd.DataFrame,
    rng,
    min_turns: int,
    include: tuple[str, ...] = (),
    max_conv_turns: int = 40,
) -> set[str]:
    """``include`` plus whole conversations in seeded order until at least
    ``min_turns`` turns are in. The oracle costs about 30 ms per turn, so
    conversations longer than ``max_conv_turns`` are left out."""
    sizes = turns.groupby("conv_id").size()
    convs = sorted(c for c, n in sizes.items() if n <= max_conv_turns)
    rng.shuffle(convs)
    picked = set(include)
    for conv in convs:
        if sizes[list(picked)].sum() >= min_turns:
            break
        picked.add(conv)
    return picked


def alias_surfaces_present(texts) -> list[str]:
    """Alias surfaces that occur as a whole mention anywhere in ``texts``,
    by the oracle's rules: word-boundary matches of gazetteer terms, with
    same-type matches separated only by whitespace merged into one mention
    (so "big data big data" is one mention, not two "big data")."""
    alias = {s for pair in TEST_ALIASES for s in pair}
    terms = [
        (re.compile(rf"(?<![a-z0-9]){re.escape(t)}(?![a-z0-9])"), typ)
        for t, typ in TEST_GAZETTEER.items()
    ]
    found: set[str] = set()
    for text in texts:
        low = text.lower()
        by_type: dict[str, list[tuple[int, int]]] = {}
        for pat, typ in terms:
            by_type.setdefault(typ, []).extend(m.span() for m in pat.finditer(low))
        for spans in by_type.values():
            spans.sort()
            start, end = spans[0] if spans else (0, 0)
            for s0, e0 in spans[1:] + [(None, None)]:
                if s0 is not None and low[end:s0].isspace():
                    end = e0
                    continue
                surface = " ".join(low[start:end].split())
                if surface in alias:
                    found.add(surface)
                if s0 is not None:
                    start, end = s0, e0
    return sorted(found)


def kg_triples_oracle_sampled(turns: pd.DataFrame, sample: set[str]) -> set[tuple]:
    """``kg_triples_oracle`` over the ``sample`` conversations of ``turns``,
    canonicalized as over all of ``turns``. Canonical ids depend on which
    alias surfaces occur anywhere in the input, so the oracle also reads an
    anchor conversation naming each alias surface that occurs in
    ``turns``; its triples are dropped."""
    anchor = pd.DataFrame(
        {
            "conv_id": [ANCHOR],
            "turn_idx": [0],
            "text": [". ".join(alias_surfaces_present(turns["text"])) + "."],
        }
    )
    rows = pd.concat(
        [turns[turns["conv_id"].isin(sample)][["conv_id", "turn_idx", "text"]], anchor],
        ignore_index=True,
    )
    return {t for t in kg_triples_oracle(rows) if t[0] != ANCHOR}


def kg_triples_oracle(turns: pd.DataFrame) -> set[tuple]:
    """``KG["kg_triples"]`` over ``turns`` (conv_id, turn_idx, text), with
    canonical ids mapped to the engine's integer entity ids."""
    sql = KG["kg_triples"]
    if _TRANSCRIPTS_CTE not in sql:
        raise RuntimeError("kg_triples oracle no longer derives transcripts as expected")
    sql = sql.replace(
        _TRANSCRIPTS_CTE, "transcripts AS (SELECT conv_id, turn_idx, text FROM turns)"
    )
    con = duckdb.connect()
    try:
        con.register("turns", turns[["conv_id", "turn_idx", "text"]])
        rows = con.execute(sql).fetchall()
    finally:
        con.close()
    ids: dict[str, int] = {}

    def eid(s: str) -> int:
        if s not in ids:
            ids[s] = md5_int(s)
        return ids[s]

    return {triple_key(c, eid(s), p, eid(o), t) for c, s, p, o, t in rows}


def dedup_oracles(docs: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """The dd_* and ts_corpus_selection oracles over ``docs``."""
    con = duckdb.connect()
    try:
        con.register(
            "documents", docs[["doc_id", "text", "lang", "source", "n_chars"]]
        )
        return {
            name: con.execute(sql).fetchdf()
            for name, sql in (
                ("lsh_candidates", DEDUP["dd_minhash_lsh_candidates"]),
                ("simhash_pairs", DEDUP["dd_simhash_near_pairs"]),
                ("clusters", DEDUP["dd_dedup_clusters"]),
                ("selection", TEXTSTATS["ts_corpus_selection"]),
            )
        }
    finally:
        con.close()


def _norm(v, digits: int):
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (float, np.floating)):
        return round(float(v), digits)
    if isinstance(v, (int, np.integer)):
        return int(v)
    return v


def rows(df: pd.DataFrame, cols: list[str], digits: int = 6) -> set[tuple]:
    """Row set of ``df[cols]`` with numpy scalars made plain and floats
    rounded to ``digits``."""
    return {
        tuple(_norm(v, digits) for v in r)
        for r in df[cols].itertuples(index=False)
    }
