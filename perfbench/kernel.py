"""Single-process timing of the mention kernel (the ``functions/`` layer).

``kernel_profile`` runs the engine's own per-turn kernel,
``operators.mentions.detect_mentions_in_text``, over a sample of turns.
For the timed passes the ``functions/`` calls it makes are replaced, by
name in ``operators.mentions``, with wrappers that time them and count
what they return; the kernel itself is not copied.
"""

from __future__ import annotations

import statistics
import time

from runne_contrastive_ner_spark.functions import decode as decode_mod
from runne_contrastive_ner_spark.functions.scorer import GazetteerScorer
from runne_contrastive_ner_spark.functions.vocab import ENTITY_TYPES
from runne_contrastive_ner_spark.operators import mentions as mentions_mod

from tracing import patched

PHASES = ("sentenize", "tokenize", "score", "decode", "spans")
# the names detect_mentions_in_text calls, the phase each belongs to, and
# the size of its result that the profile counts (sentences, subtokens,
# active planes)
CALLS = (
    (mentions_mod, "sentenize_text", "sentenize", len),
    (mentions_mod, "tokenize_text", "tokenize", lambda out: len(out[1])),
    (mentions_mod, "score_windows_active", "score", len),
    (mentions_mod, "softmax", "decode", None),
    (decode_mod, "word_transition_stack", "decode", None),
    (mentions_mod, "decode_entity_spans", "decode", None),
    (mentions_mod, "subtoken_spans_to_char_spans", "spans", None),
    (mentions_mod, "normalize_surface", "spans", None),
)


class Timers:
    """Seconds per phase, and calls and result sizes per function name."""

    def __init__(self):
        self.secs = dict.fromkeys(PHASES, 0.0)
        self.calls: dict[str, int] = {}
        self.sizes: dict[str, int] = {}

    def wrap(self, name: str, phase: str, size, fn):
        clock = time.perf_counter

        def timed(*args, **kwargs):
            t = clock()
            out = fn(*args, **kwargs)
            self.secs[phase] += clock() - t
            self.calls[name] = self.calls.get(name, 0) + 1
            if size is not None:
                self.sizes[name] = self.sizes.get(name, 0) + size(out)
            return out

        return timed

    def patches(self):
        return [(m, a, self.wrap(a, phase, size, getattr(m, a))) for m, a, phase, size in CALLS]


def kernel_profile(
    texts: list[str], gazetteer: dict[str, str], reps: int = 3
) -> dict:
    """Per-turn microseconds of each kernel phase and of the whole kernel
    (medians over ``reps`` passes after one warm pass), and the kernel's
    work counts over ``texts``."""
    detect = mentions_mod.detect_mentions_in_text
    scorer = GazetteerScorer(gazetteer, ENTITY_TYPES)
    mentions = sum(len(detect(t, scorer)) for t in texts)  # warm pass
    totals = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for t in texts:
            detect(t, scorer)
        totals.append(time.perf_counter() - t0)
    runs = []
    for _ in range(reps):
        timers = Timers()
        with patched(timers.patches()):
            for t in texts:
                detect(t, scorer)
        runs.append(timers)
    n = max(1, len(texts))
    out = {
        f"kernel.{p}_us_per_turn": statistics.median(r.secs[p] for r in runs) * 1e6 / n
        for p in PHASES
    }
    out["kernel.total_us_per_turn"] = statistics.median(totals) * 1e6 / n
    sizes, calls = runs[0].sizes, runs[0].calls
    active = sizes.get("score_windows_active", 0)
    skipped = active - calls.get("decode_entity_spans", 0)
    out.update({
        "kernel.turns": len(texts),
        "kernel.sentences": sizes.get("sentenize_text", 0),
        "kernel.subtokens": sizes.get("tokenize_text", 0),
        "kernel.active_planes": active,
        "kernel.fastpath_skipped_planes": skipped,
        "kernel.fastpath_skip_ratio": skipped / active if active else 0.0,
        "kernel.mentions": mentions,
    })
    return out
