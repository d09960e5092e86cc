"""Run configuration of the dedup pipeline.

``min_r2`` is the verification gate (reference: ``phrasesearcher.py:290-297``,
``min_r2 = min_r`` with the default ``min_r=75``): a candidate pair whose
edit ratio (or partial ratio, in the containment stage) is below it is not
an edge. The reference's scan gate and skip-verify cut-off are not
fields: the LSH stage is tuned by ``bands`` / ``rows``, and sha256-equal
pairs always short-circuit to 100. The per-pattern matcher keeps both.

``config_hash`` is the resume key: any change to a semantic knob invalidates
downstream checkpoints.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass

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
    # verification gates
    min_r2: int = 75
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
    # field changes (6: unread `simhash_bits`/`shuffle_partitions` removed;
    # 7: the unread reference ratio fields removed, `min_r2` read directly;
    # 8: `verified_pairs` keeps the verify cascade's one record per pair)
    # invalidate incompatible checkpoints from older engine builds
    layout_version: int = 8

    def __post_init__(self):
        if self.bands * self.rows != self.num_perm:
            raise ValueError(
                f"bands*rows must equal num_perm "
                f"({self.bands}*{self.rows} != {self.num_perm})"
            )
        if not 0 <= self.min_r2 <= 100:
            raise ValueError(f"min_r2 must be in 0..100, got {self.min_r2}")
        if self.ratio_func not in ("indel", "levenshtein"):
            raise ValueError(
                f"ratio_func must be 'indel' or 'levenshtein', "
                f"got {self.ratio_func!r}"
            )

    def config_hash(self) -> str:
        payload = json.dumps(asdict(self), sort_keys=True)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    @classmethod
    def from_json(cls, path: str) -> "DedupConfig":
        with open(path) as f:
            return cls(**json.load(f))
