"""Seeded input generators, one per workload.

Every generator is a pure function of its seed and size arguments: the same
seed gives byte-identical pandas tables, and ``content_hash`` fingerprints a
table so each result records exactly which inputs it measured. The engine
never sees the generator; it reads only the parquet files written from these
tables.

Text is drawn from the 30-word vocabulary of the engine's test corpus
(``documents.text`` at every scale factor), so the default gazetteer and
aliases (``functions/vocab.py``) hit at the same rates they do on the
reference corpus.
"""

from __future__ import annotations

import hashlib
import random

import pandas as pd

from runne_contrastive_ner_spark.functions.vocab import ENTITY_TYPES

# the test corpus vocabulary, uniform in documents.text
SF_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
EPOCH = pd.Timestamp("2025-01-01", tz="UTC")


def content_hash(df: pd.DataFrame) -> str:
    """sha256 over the row hashes of a table, in row order."""
    rows = pd.util.hash_pandas_object(df, index=False).to_numpy()
    h = hashlib.sha256(rows.tobytes())
    h.update(",".join(df.columns).encode())
    return h.hexdigest()[:16]


def sf_text(rng: random.Random, n_words: int, vocab=SF_VOCAB) -> str:
    """documents.text-shaped text: lowercase vocabulary words, with a
    sentence break every 8-24 words (a period, then a capitalized word) so
    the sentenizer has work to do."""
    words: list[str] = []
    until_break = rng.randint(8, 24)
    for i in range(n_words):
        w = rng.choice(vocab)
        if until_break == 0:
            w = w.capitalize()
            until_break = rng.randint(8, 24)
        until_break -= 1
        if until_break == 0 and i < n_words - 1:
            w += "."
        words.append(w)
    return " ".join(words)


def _turn_rows(conv_id: str, first_turn: int, texts: list[str], t0: int) -> list[tuple]:
    return [
        (
            conv_id,
            first_turn + i,
            ("user", "assistant", "tool")[(first_turn + i) % 3],
            text,
            "search" if (first_turn + i) % 3 == 2 else "",
            EPOCH + pd.Timedelta(minutes=t0 + i),
        )
        for i, text in enumerate(texts)
    ]


def _transcripts(rows: list[tuple]) -> pd.DataFrame:
    df = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    return df.astype({"turn_idx": "int32"})


def conversations(
    seed: int,
    n_turns: int,
    prefix: str = "c",
    vocab=SF_VOCAB,
    min_words: int = 10,
    max_words: int = 100,
    skew_share: float = 0.1,
) -> pd.DataFrame:
    """Transcripts of about ``n_turns`` turns: conversations of seeded
    length (4-40 turns) plus one long skew conversation holding
    ``skew_share`` of the turns."""
    rng = random.Random(seed)
    rows: list[tuple] = []
    skew_turns = int(n_turns * skew_share)
    texts = [
        sf_text(rng, rng.randint(min_words, max_words), vocab)
        for _ in range(skew_turns)
    ]
    rows += _turn_rows(f"{prefix}-skew", 0, texts, 0)
    conv = 0
    while len(rows) < n_turns:
        length = min(rng.randint(4, 40), n_turns - len(rows))
        texts = [
            sf_text(rng, rng.randint(min_words, max_words), vocab)
            for _ in range(length)
        ]
        rows += _turn_rows(f"{prefix}-{conv:05d}", 0, texts, conv * 50)
        conv += 1
    return _transcripts(rows)


def tail_appends(
    seed: int,
    base: pd.DataFrame,
    turns_per_append: int,
    introduce: list[str],
    continue_share: float = 0.3,
) -> list[pd.DataFrame]:
    """Tail files for the streaming loop, one per entry of ``introduce``.
    Most turns open new conversations; ``continue_share`` of them extend
    conversations already present (next turn_idx). Tail ``i`` is the first
    to use the words in ``introduce[i]``, so the alias edges that touch
    them appear only then and move canonical ids of surfaces that are
    already folded."""
    rng = random.Random(seed + 7919)
    next_turn = base.groupby("conv_id")["turn_idx"].max().to_dict()
    existing = sorted(next_turn)
    held = " ".join(introduce).split()
    vocab = [w for w in SF_VOCAB if w not in held]
    out = []
    for a in range(len(introduce)):
        vocab = vocab + introduce[a].split()
        rows: list[tuple] = []
        n_new = 0
        while len(rows) < turns_per_append:
            if rng.random() < continue_share:
                conv = rng.choice(existing)
                turn = next_turn[conv] + 1
                next_turn[conv] = turn
                rows += _turn_rows(
                    conv, turn, [sf_text(rng, rng.randint(10, 100), vocab)], 10_000 + a
                )
            else:
                length = min(rng.randint(4, 12), turns_per_append - len(rows))
                texts = [sf_text(rng, rng.randint(10, 100), vocab) for _ in range(length)]
                conv = f"a{a}-{n_new:04d}"
                rows += _turn_rows(conv, 0, texts, 20_000 + a)
                next_turn[conv] = length - 1
                n_new += 1
        out.append(_transcripts(rows))
    return out


_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]


def dense_dictionary(
    seed: int, n_surfaces: int, n_alias_surfaces: int
) -> tuple[dict[str, str], list[tuple[str, str]]]:
    """A generated gazetteer of pseudo-word surfaces (a fifth of them two
    words long) with seeded types, and alias pairs that chain
    ``n_alias_surfaces`` of the surfaces into components of 2-8 members."""
    rng = random.Random(seed + 104729)
    seen: set[str] = set()
    surfaces: list[str] = []
    while len(surfaces) < n_surfaces:
        word = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if rng.random() < 0.2:
            word += " " + "".join(rng.choice(_SYLLABLES) for _ in range(2))
        if word not in seen:
            seen.add(word)
            surfaces.append(word)
    gazetteer = {s: rng.choice(ENTITY_TYPES) for s in surfaces}
    linked = rng.sample(surfaces, n_alias_surfaces)
    aliases: list[tuple[str, str]] = []
    i = 0
    while i < len(linked) - 1:
        size = min(rng.randint(2, 8), len(linked) - i)
        chain = linked[i : i + size]
        aliases += list(zip(chain, chain[1:]))
        i += size
    return gazetteer, aliases


def dense_turns(
    seed: int, n_turns: int, gazetteer: dict[str, str], words_per_turn: int = 20
) -> pd.DataFrame:
    """Entity-dense short turns: about a third of the words are dictionary
    surfaces, drawn with a Zipf-like skew so some entities are hubs."""
    rng = random.Random(seed + 1299709)
    surfaces = sorted(gazetteer)
    rng.shuffle(surfaces)
    weights = [1.0 / (1 + i) ** 0.8 for i in range(len(surfaces))]
    filler = [w for w in SF_VOCAB if w not in gazetteer]
    rows: list[tuple] = []
    conv = 0
    while len(rows) < n_turns:
        length = min(rng.randint(4, 30), n_turns - len(rows))
        texts = []
        for _ in range(length):
            picks = rng.choices(surfaces, weights, k=words_per_turn // 3)
            words = picks + [rng.choice(filler) for _ in range(words_per_turn - len(picks))]
            rng.shuffle(words)
            texts.append(" ".join(words))
        rows += _turn_rows(f"d-{conv:05d}", 0, texts, conv * 40)
        conv += 1
    return _transcripts(rows)


# (share of replicas, word-edit rate): exact duplicates, near duplicates that
# verify at Jaccard >= 0.9, LSH candidates that fail verification, and
# unrelated rewrites
EDIT_RATES = ((0.25, 0.0), (0.35, 0.01), (0.25, 0.08), (0.15, 0.4))


def corpus(seed: int, n_docs: int, replica_share: float = 0.5) -> pd.DataFrame:
    """``documents`` rows shaped like the test corpus (doc_id, text,
    lang, source, n_chars). About ``replica_share`` of the documents are
    replicas of a base document with seeded word edits at the rates in
    EDIT_RATES; doc ids are shuffled so families are not contiguous.
    ``family`` (the base document's index) is kept for the subset checks and
    dropped before the engine sees the table."""
    rng = random.Random(seed + 15485863)
    n_base = int(n_docs * (1 - replica_share))
    bases = [
        " ".join(rng.choice(SF_VOCAB) for _ in range(rng.randint(10, 100)))
        for _ in range(n_base)
    ]
    texts = list(bases)
    family = list(range(n_base))
    shares = [s for s, _ in EDIT_RATES]
    while len(texts) < n_docs:
        b = rng.randrange(n_base)
        (_, rate), = rng.choices(EDIT_RATES, shares)
        words = bases[b].split()
        words = [rng.choice(SF_VOCAB) if rng.random() < rate else w for w in words]
        texts.append(" ".join(words))
        family.append(b)
    ids = list(range(n_docs))
    rng.shuffle(ids)
    df = pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in texts],
            "source": [f"src{i % 5}" for i in range(n_docs)],
            "n_chars": [len(t) for t in texts],
            "family": family,
        }
    )
    return df.sort_values("doc_id", ignore_index=True).astype(
        {"doc_id": "int64", "n_chars": "int64"}
    )
