"""QA run configuration (the reference's `settings`, config.py:15-19,
reduced to a frozen dataclass — every derived value is a pure function)."""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass

from ..functions.textstats import GopherThresholds

# threshold fields of a lang_profiles row, in row order after the language
PROFILED_FIELDS = ("min_words", "min_stopword_ratio", "min_alpha_word_frac")


@dataclass(frozen=True)
class QAConfig(GopherThresholds):
    """Thresholds + scopes for one QA run: the keep thresholds of
    GopherThresholds, plus language profiles, model thresholds, scopes and
    execution settings.

    `window` is the reference's Period (models.py:102-109): inclusive
    warc_ts bounds, None = auto/all. `cohort_langs` is the Region analogue
    (models.py:73-99): a cohort predicate over the corpus.
    """

    # the 17 keep thresholds are GopherThresholds'; only the word-length
    # bounds are widened (multilingual-safe defaults)
    min_mean_word_len: float = 1.0
    max_mean_word_len: float = 20.0
    # Per-language threshold profiles (CCNet practice): rows of
    # (lang, min_words, min_stopword_ratio, min_alpha_word_frac) keyed by
    # the pipeline's own lang_pred; a 'default' row covers unlisted
    # languages (absent that, the global thresholds do). None (the
    # default) disables profiling — every existing keep/F1 contract is
    # computed with the global gate.
    lang_profiles: tuple[tuple[str, int, float, float], ...] | None = None
    # model-based thresholds
    max_ppl: float = 1500.0
    allowed_langs: tuple[str, ...] = ("en", "es", "fr", "de", "zh")
    # scopes
    window: tuple[str, str] | None = None  # inclusive (lo, hi) on warc_ts
    cohort_langs: tuple[str, ...] | None = None  # None = whole corpus
    # input form: when True the pipeline starts from the RAW capture —
    # `text` is derived from the `html` binary in the map stage
    # (functions/extract.py, JVM-side) and html is dropped before any
    # shuffle; byte-identity of the derivation is the north-rule invariant
    # (tests/test_extract.py), so every downstream semantic is unchanged
    extract_from_html: bool = False
    # execution
    n_chunks: int = 8  # checkpoint granularity (resume unit)
    # accepted (and hashed) but no longer shapes the QA pass, which scores
    # each scan split in place; kept because perfbench/workloads.py passes it
    n_partitions: int = 32

    def __post_init__(self):
        # run_qa scores chunks range(n_chunks): with none, it would write
        # nothing and still report success
        if self.n_chunks < 1:
            raise ValueError(f"n_chunks must be at least 1, got {self.n_chunks}")

    def profile_thresholds(self) -> dict[str, tuple[dict[str, float], float]]:
        """lang_profiles as {threshold field: ({lang: value}, fallback)}: a
        listed language takes its row's value, any other the 'default'
        row's, else the global threshold. Profiles are config, so the keep
        decision compiles this lookup in (a CASE chain on the Spark side, a
        map on the pandas side) rather than joining a dim."""
        rows = {r[0]: r[1:] for r in self.lang_profiles}
        fallback = rows.pop(
            "default", tuple(getattr(self, f) for f in PROFILED_FIELDS)
        )
        return {
            f: ({lang: v[i] for lang, v in rows.items()}, fallback[i])
            for i, f in enumerate(PROFILED_FIELDS)
        }

    def config_hash(self) -> str:
        """Stable hash recorded in lineage (run manifest identity)."""
        payload = json.dumps(asdict(self), sort_keys=True, default=str)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]
