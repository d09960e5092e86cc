"""Deterministic synthetic source-code corpus generator (FIXTURES.md §1).

Generates the dedup pipeline's input table
``files(repo, path, commit, lang, content)`` — the schema fixed by
BASELINE.json's input_hint — together with planted ground truth:

- ``truth_pairs(a_id, b_id, kind)``  — every planted duplicate pair
- ``truth_components(file_id, component_id)`` — expected cluster assignment

Duplicate kinds mirror the reference's match semantics (see FIXTURES.md):
exact, near_high (1-3% token edits), near_low (10-20% edits), reordered
(block shuffle), substring (A embedded in B), boilerplate (one big exact-dup
cluster) and negatives.

Everything is seeded (seed=42 by default); no wall clock, no network. File
ids are content-addressed ``xxhash64(repo, path, commit)`` computed by the
engine, so the generator exposes the same key function here for truth tables.
"""

from __future__ import annotations

import random

import pandas as pd

__all__ = ["generate_corpus", "file_key", "CorpusBundle"]

_LANGS = ["python", "java", "js", "go", "md"]

_KEYWORDS = {
    "python": ["def", "return", "class", "import", "for", "if", "else", "while",
               "try", "except", "with", "lambda", "yield", "raise", "pass"],
    "java": ["public", "private", "static", "void", "class", "return", "new",
             "final", "int", "String", "throws", "extends", "implements"],
    "js": ["function", "const", "let", "var", "return", "async", "await",
           "export", "import", "class", "new", "this"],
    "go": ["func", "package", "import", "return", "var", "const", "type",
           "struct", "interface", "go", "defer", "chan"],
    "md": ["the", "a", "of", "and", "to", "in", "is", "for", "with", "on"],
}

_IDENT_PARTS = [
    "load", "parse", "build", "run", "fetch", "merge", "split", "hash",
    "index", "scan", "emit", "queue", "batch", "node", "edge", "token",
    "shard", "block", "chunk", "field", "value", "count", "state", "config",
]

_LICENSE_HEADER = (
    "# Licensed under the Apache License, Version 2.0 (the License);\n"
    "# you may not use this file except in compliance with the License.\n"
    "# You may obtain a copy of the License at http://www.apache.org/licenses/\n"
)


def file_key(repo: str, path: str, commit: str) -> str:
    """Stable join key matching the engine's xxhash64 id inputs."""
    return f"{repo}\x1f{path}\x1f{commit}"


def _commit_of(rng: random.Random) -> str:
    return "".join(rng.choice("0123456789abcdef") for _ in range(40))


def _ident(rng: random.Random) -> str:
    return "_".join(rng.sample(_IDENT_PARTS, rng.randint(1, 3)))


def _gen_block(rng: random.Random, lang: str, n_lines: int) -> list[str]:
    kw = _KEYWORDS[lang]
    lines = []
    for _ in range(n_lines):
        words = [rng.choice(kw)] + [
            rng.choice([_ident(rng), rng.choice(kw), str(rng.randint(0, 9999))])
            for _ in range(rng.randint(2, 8))
        ]
        indent = "    " * rng.randint(0, 2)
        lines.append(indent + " ".join(words))
    return lines


def _gen_content(rng: random.Random, lang: str, n_blocks: int = None) -> str:
    blocks = []
    for _ in range(n_blocks or rng.randint(3, 10)):
        blocks.append("\n".join(_gen_block(rng, lang, rng.randint(3, 10))))
    return "\n\n".join(blocks)


def _edit_tokens(rng: random.Random, content: str, frac: float) -> str:
    """Edit ~frac of whitespace tokens (rename/drop/dup) preserving length scale."""
    toks = content.split(" ")
    n_edit = max(1, int(len(toks) * frac))
    idxs = rng.sample(range(len(toks)), min(n_edit, len(toks)))
    for i in idxs:
        op = rng.random()
        if op < 0.6:
            toks[i] = _ident(rng)  # rename
        elif op < 0.8:
            toks[i] = toks[i] + str(rng.randint(0, 99))  # mutate
        else:
            toks[i] = ""  # delete
    return " ".join(t for t in toks if t)


def _edit_tokens_spaced(rng: random.Random, content: str, every: int = 60) -> str:
    """Rename every ``every``-th whitespace token (deterministic spacing).

    Unlike :func:`_edit_tokens` (random edit positions), the fixed spacing
    guarantees intact runs of ``every - 1`` tokens (hundreds of bytes)
    between consecutive edits — which is what makes the winnowed-fingerprint
    recall of an *edited* embedded copy provable (any shared verbatim run
    >= w + k - 1 bytes shares a selected fingerprint), so the
    embedded-with-edits recall gate is deterministic, not probabilistic.
    """
    toks = content.split(" ")
    for i in range(every // 2, len(toks), every):
        toks[i] = _ident(rng)
    return " ".join(toks)


def _shuffle_blocks(rng: random.Random, content: str) -> str:
    blocks = content.split("\n\n")
    rng.shuffle(blocks)
    return "\n\n".join(blocks)


class CorpusBundle:
    """files + truth tables as pandas DataFrames (parquet-ready)."""

    def __init__(self, files: pd.DataFrame, truth_pairs: pd.DataFrame,
                 truth_components: pd.DataFrame):
        self.files = files
        self.truth_pairs = truth_pairs
        self.truth_components = truth_components


def generate_corpus(
    n_files: int = 500,
    seed: int = 42,
    boilerplate_cluster: int = 0,
    near_family: int = 0,
    substring_edited: int = 0,
) -> CorpusBundle:
    """Generate a corpus of ``n_files`` base files plus planted duplicates.

    Roughly: 60% unique negatives, and 40% of base files get one or more
    planted duplicates across the duplicate kinds. ``boilerplate_cluster``
    additionally plants one exact-dup cluster of that size (hot-LSH-bucket /
    skew exercise — defeated by the exact collapse). ``near_family``
    additionally plants one cluster of that many near-identical but
    pairwise-DISTINCT files (shared body + one unique trailing token each):
    the adversarial case the exact collapse canNOT remove — every member
    lands in the same LSH band buckets, so candidate enumeration must
    survive a bucket of this size via the salted / star tiers.
    ``substring_edited`` plants that many embedded-with-edits pairs (a base
    file pasted into a larger host, then lightly edited with deterministic
    spacing) — the S2 partial_ratio recall exercise; opt-in so existing
    committed fixtures stay byte-identical.
    """
    rng = random.Random(seed)
    rows: list[dict] = []
    pair_rows: list[dict] = []  # (a_key, b_key, kind)
    comp_edges: list[tuple[str, str]] = []

    def add_file(repo: str, path: str, lang: str, content: str) -> str:
        commit = _commit_of(rng)
        rows.append(
            {"repo": repo, "path": path, "commit": commit, "lang": lang,
             "content": content}
        )
        return file_key(repo, path, commit)

    # Skewed repo distribution: repo 0 is the "mega repo" (~30% of rows).
    def pick_repo() -> str:
        if rng.random() < 0.3:
            return "org0/megarepo"
        return f"org{rng.randint(1, 9)}/project{rng.randint(0, 19)}"

    kinds_cycle = ["exact", "near_high", "near_low", "reordered", "substring"]
    n_dup_bases = int(n_files * 0.4)

    for i in range(n_files):
        lang = rng.choice(_LANGS)
        content = _gen_content(rng, lang)
        repo = pick_repo()
        path = f"src/module_{rng.randint(0, 50)}/file_{i}.{lang[:2]}"
        base_key = add_file(repo, path, lang, content)

        if i < n_dup_bases:
            kind = kinds_cycle[i % len(kinds_cycle)]
            if kind == "exact":
                dup = content
            elif kind == "near_high":
                dup = _edit_tokens(rng, content, rng.uniform(0.01, 0.03))
            elif kind == "near_low":
                dup = _edit_tokens(rng, content, rng.uniform(0.10, 0.20))
            elif kind == "reordered":
                dup = _shuffle_blocks(rng, content)
            else:  # substring: embed content inside a much larger host
                host = _gen_content(rng, lang, n_blocks=rng.randint(15, 30))
                cut = rng.randint(0, host.count("\n\n"))
                blocks = host.split("\n\n")
                blocks.insert(cut, content)
                dup = "\n\n".join(blocks)
            dup_key = add_file(
                pick_repo(), f"vendor/copy_{i}.{lang[:2]}", lang, dup
            )
            pair_rows.append({"a_key": base_key, "b_key": dup_key, "kind": kind})
            comp_edges.append((base_key, dup_key))

    if boilerplate_cluster > 1:
        header_body = _LICENSE_HEADER + _gen_content(rng, "python", n_blocks=2)
        first_key = None
        for j in range(boilerplate_cluster):
            k = add_file(
                pick_repo(), f"boilerplate/header_{j}.py", "python", header_body
            )
            if first_key is None:
                first_key = k
            else:
                pair_rows.append(
                    {"a_key": first_key, "b_key": k, "kind": "boilerplate"}
                )
                comp_edges.append((first_key, k))

    if substring_edited > 0:
        # embedded-with-k-edits plants (reference partial_ratio blind spot:
        # A pasted inside a much larger B, then lightly edited — verbatim
        # containment fails, shingle Jaccard is diluted to ~|A|/|B|; only
        # the anchored partial_ratio path of the substring stage can verify
        # these). Edits are deterministically spaced (_edit_tokens_spaced)
        # so winnowed-fingerprint candidate recall is guaranteed, making
        # the tests' >= 0.99 recall gate exact rather than probabilistic.
        for j in range(substring_edited):
            lang = rng.choice(_LANGS)
            base = _gen_content(rng, lang, n_blocks=rng.randint(5, 8))
            base_key = add_file(
                pick_repo(), f"src/embedded/base_{j}.{lang[:2]}", lang, base
            )
            edited = _edit_tokens_spaced(rng, base, every=60)
            host = _gen_content(rng, lang, n_blocks=rng.randint(15, 30))
            blocks = host.split("\n\n")
            blocks.insert(rng.randint(0, len(blocks)), edited)
            host_key = add_file(
                pick_repo(),
                f"vendor/embedded_copy_{j}.{lang[:2]}",
                lang,
                "\n\n".join(blocks),
            )
            pair_rows.append(
                {"a_key": base_key, "b_key": host_key, "kind": "substring_edited"}
            )
            comp_edges.append((base_key, host_key))

    if near_family > 1:
        # shared body long enough that one extra token keeps Jaccard >> 0.7
        family_body = _gen_content(rng, "python", n_blocks=8)
        first_key = None
        for j in range(near_family):
            k = add_file(
                pick_repo(), f"generated/variant_{j}.py", "python",
                f"{family_body}\nvariant_token_{j}",
            )
            if first_key is None:
                first_key = k
            else:
                pair_rows.append(
                    {"a_key": first_key, "b_key": k, "kind": "near_family"}
                )
                comp_edges.append((first_key, k))

    files = pd.DataFrame(rows)

    # Truth components: union-find over planted edges; component id = min key.
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    all_keys = [file_key(r["repo"], r["path"], r["commit"]) for r in rows]
    for a, b in comp_edges:
        union(a, b)
    truth_components = pd.DataFrame(
        {"file_key": all_keys, "component_key": [find(k) for k in all_keys]}
    )
    truth_pairs = pd.DataFrame(
        pair_rows, columns=["a_key", "b_key", "kind"]
    )
    return CorpusBundle(files, truth_pairs, truth_components)


def generate_partial_corpus(
    n_negatives: int = 300,
    n_planted: int = 40,
    seed: int = 7,
    every_bytes: int = 150,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Fixture for the ORACLE-EXACT partial_ratio gate (round-5 VERDICT #1).

    Plants ``n_planted`` (base, host) pairs where the host embeds a copy of
    the base edited with SUBSTITUTION-ONLY runs of ``~`` at deterministic
    ~``every_bytes`` spacing. Substitutions from a disjoint alphabet make
    the production anchored path *provably* equal to a DuckDB-expressible
    formula:

    - length is preserved, so every intact shared gram votes EXACTLY the
      planted byte offset (zero indel drift) — the engine's top-voted
      anchor window ``host[off : off+n]`` IS the edited copy;
    - ``~`` never occurs in generated content, so the InDel kernel's
      LCS(base, edited) = n - k exactly (edited positions can match
      nothing), giving ``score = 100*(1 - 2k/2n) = 100*(n-k)/n``; and
      unit-cost ``levenshtein(base, edited) = k`` exactly (each ``~``
      needs one op; k substitutions suffice) — so DuckDB reproduces the
      engine's float: ``100.0*(1.0 - 2.0*lev/(len_a + n))``.
    - Exact-.5 rounding ties (the one Python-banker's vs SQL divergence)
      are REMOVED at generation time: edit bytes are dropped one at a
      time until ``100*(n-k)/n`` is not an exact half.

    Bases are sized (700, 6000) bytes: above the 512-byte screen bypass
    (so the coverage screen's PASS path is oracle-exercised) and below
    CHAR_KERNEL_MAX (so the byte-level InDel kernel runs, not the
    token-level fallback). Every third negative carries the license
    header — real shared-gram candidate noise the phase-A screen must
    reject (precision is checked by the oracle equality, not assumed).
    All content is ASCII, so DuckDB's char-based ``length``/``substr``
    coincide with the engine's byte coordinates.

    Returns ``(files, plant)``: ``files`` in the standard corpus shape and
    ``plant`` with (a_key, b_key, off, n, k) — byte offset of the edited
    copy in the host, base length, and edit count. The plant table is
    ORACLE metadata only; the engine query runs the production path blind.
    """
    rng = random.Random(seed)
    rows: list[dict] = []

    def add_file(path: str, lang: str, content: str) -> str:
        assert content.isascii(), "oracle precondition: ASCII content"
        assert "~" not in content or path.startswith("vendor/"), path
        repo = f"org{rng.randint(0, 9)}/project{rng.randint(0, 19)}"
        commit = _commit_of(rng)
        rows.append(
            {"repo": repo, "path": path, "commit": commit, "lang": lang,
             "content": content}
        )
        return file_key(repo, path, commit)

    for i in range(n_negatives):
        lang = rng.choice(_LANGS)
        content = _gen_content(rng, lang)
        while len(content) < 3 * len(_LICENSE_HEADER):
            content = _gen_content(rng, lang)
        if i % 3 == 0:
            content = _LICENSE_HEADER + content
        add_file(f"src/neg_{i}.{lang[:2]}", lang, content)

    plant_rows: list[dict] = []
    for j in range(n_planted):
        lang = rng.choice(_LANGS)
        base = _gen_content(rng, lang, n_blocks=rng.randint(5, 8))
        while not (700 <= len(base) <= 6000):
            base = _gen_content(rng, lang, n_blocks=rng.randint(5, 8))
        n = len(base)
        run_len = rng.randint(1, 24)
        edit_positions: list[int] = []
        for start in range(every_bytes // 2, n - run_len, every_bytes):
            edit_positions.extend(range(start, start + run_len))
        # drop trailing edit bytes until the exact score is not an
        # exact .5 (banker's-vs-half-up rounding divergence guard)
        while edit_positions and (200 * (n - len(edit_positions))) % (2 * n) == n:
            edit_positions.pop()
        assert edit_positions, "degenerate plant: no edits survived"
        k = len(edit_positions)
        edited_b = bytearray(base.encode())
        for p in edit_positions:
            edited_b[p] = ord("~")
        edited = edited_b.decode()
        host_blocks = _gen_content(
            rng, lang, n_blocks=rng.randint(15, 30)
        ).split("\n\n")
        host_blocks.insert(rng.randint(0, len(host_blocks)), edited)
        host = "\n\n".join(host_blocks)
        a_key = add_file(f"src/partial/base_{j}.{lang[:2]}", lang, base)
        b_key = add_file(f"vendor/partial/host_{j}.{lang[:2]}", lang, host)
        plant_rows.append(
            {"a_key": a_key, "b_key": b_key, "off": host.index(edited),
             "n": n, "k": k}
        )

    files = pd.DataFrame(rows)
    plant = pd.DataFrame(plant_rows, columns=["a_key", "b_key", "off", "n", "k"])
    return files, plant
