"""Run configuration with the reference's threshold-resolution semantics.

The reference resolves ``min_r -> (min_r1, min_r2)`` and coherence-checks
them against ``thresh`` (reference: ``phrasesearcher.py:228-321``, defaults
``min_r=75 -> min_r1=round(75/1.5)=50, min_r2=75, thresh=100``). The dedup
pipeline keeps those exact semantics: min_r1 is the recall-oriented scan
gate (it parameterizes how aggressive the LSH config must be), min_r2 the
verification gate, thresh the skip-verify fast path (sha256 equality).

``config_hash`` is the resume key: any change to a semantic knob invalidates
downstream checkpoints.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field

from ..phrasesearch import check_ratios, set_ratios

__all__ = ["DedupConfig"]


@dataclass(frozen=True)
class DedupConfig:
    # shingling
    shingle_k: int = 3
    # minhash
    num_perm: int = 128
    bands: int = 64
    rows: int = 2
    seed: int = 42
    # simhash (64-bit)
    max_hamming: int = 3
    # verification thresholds (reference semantics)
    min_r: int = 75
    min_r1: int | None = None
    min_r2: int | None = None
    thresh: int = 100
    jaccard_min: float = 0.7
    jaccard_floor: float = 0.2
    # verify kernel: "indel" (reference S1 semantics) or "levenshtein"
    # (SQL-mirrorable integer ratio — the oracle-checkable variant)
    ratio_func: str = "indel"
    # substring stage
    substring_k: int = 32
    substring_w: int = 32
    substring_min_len: int = 100
    # score edited near-containment (reference partial_ratio, S2) with the
    # fingerprint-anchored InDel kernel at the min_r2 gate; False pins the
    # containment stage to verbatim-only — the SQL-mirrorable subset the
    # DuckDB oracle checks (partial alignment is not SQL-expressible)
    substring_partial: bool = True
    # skew handling
    bucket_cap: int = 64
    # checkpoint-layout version: folded into config_hash so schema changes
    # to stage outputs (e.g. 5: `content` dropped from the `signatures`
    # checkpoint — verify joins text from `normalized` instead) and config
    # field changes (6: unread `simhash_bits`/`shuffle_partitions` removed)
    # invalidate incompatible checkpoints from older engine builds
    layout_version: int = 6

    def __post_init__(self):
        if self.bands * self.rows != self.num_perm:
            raise ValueError(
                f"bands*rows must equal num_perm "
                f"({self.bands}*{self.rows} != {self.num_perm})"
            )
        if self.ratio_func not in ("indel", "levenshtein"):
            raise ValueError(
                f"ratio_func must be 'indel' or 'levenshtein', "
                f"got {self.ratio_func!r}"
            )

    def resolved_ratios(self) -> tuple[int, int, int]:
        """(min_r1, min_r2, thresh) via the reference's resolution rules."""
        r1, r2 = set_ratios(self.min_r, self.min_r1, self.min_r2)
        # flex>0 equivalent: the pipeline always has a verify phase
        return check_ratios(r1, r2, self.thresh, flex=1)

    def config_hash(self) -> str:
        payload = json.dumps(asdict(self), sort_keys=True)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    @classmethod
    def from_json(cls, path: str) -> "DedupConfig":
        with open(path) as f:
            return cls(**json.load(f))
