"""Seeded input generators for the benchmark workloads.

Everything here is plain Python/pandas and a pure function of
``(seed, size)``: the engine only ever sees the tables written out.

- ``resolve_corpus``: a ``files(repo, path, commit, lang, content)``
  corpus built on ``fixtures.generate_corpus`` (name-borne duplicates:
  " - copy"/"_v2" renames, near-duplicate stems, same-stem hot blocks
  above the 64-row block cap) plus content-borne families (identical
  multi-KB contents re-vendored under unrelated names) and bridge
  triples, split into a base and a delta. Labels come from the
  injection log, never from the pipeline.
- ``documents``: a ``documents(doc_id, text, lang, source, n_chars)``
  table of near-duplicate families over a Zipf-like pseudo-word
  vocabulary, with truth pairs for the families.
"""

from __future__ import annotations

import hashlib
import itertools
import random
from dataclasses import dataclass

import pandas as pd

from music_dedupe_spark import fixtures

#: Per-size parameters. ``full`` is what the benchmark measures;
#: ``small`` is for the self-tests.
RESOLVE_SIZES = {
    "full": dict(
        n_base=200, n_clusters=50, n_hard_negative_blocks=2,
        hard_negative_block_size=70, n_short=10, n_junk=5,
        n_content_families=10, n_bridges=6,
    ),
    "small": dict(
        n_base=60, n_clusters=20, n_hard_negative_blocks=1,
        hard_negative_block_size=70, n_short=5, n_junk=5,
        n_content_families=5, n_bridges=3,
    ),
}
#: members per content family
FAMILY_SIZE = 5
#: share of the other files that arrive in the delta
DELTA_SHARE = 0.08
#: every DELTA_FAMILY_EVERY-th content family arrives whole in the delta
DELTA_FAMILY_EVERY = 5
#: copies of each dedup_docs family's original, cycled over the families
COPIES_PER_FAMILY = (0, 0, 3, 0, 1, 0, 5, 0, 2, 0, 0, 4)
#: documents per dedup_docs input: ~600k chars, above
#: dedup.LSH_ORGANIC_TRUTH_MAX_CHARS (500k) so the LSH entry runs its
#: scale path
N_DOCS = 800


@dataclass
class ResolveInput:
    files: pd.DataFrame
    labeled_pairs: pd.DataFrame
    #: per row of ``files``: True when the row arrives in the delta
    is_delta: list
    #: (A, C) file ids of each bridge triple: two base entities that the
    #: delta's bridge file merges
    bridges: list


def resolve_corpus(seed: int, size: str) -> ResolveInput:
    """The corpus and its base/delta split. The delta holds new members
    of existing entities (a random share of all files), new entities
    (whole content families, and base files that match nothing) and the
    bridge file of every bridge triple, which merges two base entities."""
    p = dict(RESOLVE_SIZES[size])
    n_families = p.pop("n_content_families")
    n_bridges = p.pop("n_bridges")
    corpus = fixtures.generate_corpus(seed=seed, **p)
    rng = random.Random(seed * 7919 + 1)
    rows, positives, whole_in_delta = [], [], []
    for fam in range(n_families):
        idx = 50_000 + fam
        # multi-KB content shared verbatim by every member
        content = _source_text(rng, idx, rng.randint(600, 800))
        ids = []
        for k in range(FAMILY_SIZE):
            repo = f"vendor-{seed}-{fam}-{k}/lib"
            path = f"third_party/{_word(rng)}_{fam}_{k}.py"
            commit = hashlib.sha1(f"{seed}:{repo}:{path}".encode()).hexdigest()
            rows.append(
                {"repo": repo, "path": path, "commit": commit, "lang": "py", "content": content}
            )
            ids.append(fixtures.file_id(repo, path, commit))
            whole_in_delta.append(fam % DELTA_FAMILY_EVERY == DELTA_FAMILY_EVERY - 1)
        positives.extend(itertools.combinations(sorted(ids), 2))
    bridges = []
    for b in range(n_bridges):
        a, c, bridge = _bridge_triple(rng, seed, b)
        rows.extend((a, c, bridge))
        whole_in_delta.extend((False, False, True))
        ids = [fixtures.file_id(r["repo"], r["path"], r["commit"]) for r in (a, c, bridge)]
        bridges.append((ids[0], ids[1]))
        positives.extend(itertools.combinations(sorted(ids), 2))
    files = pd.concat([corpus.files, pd.DataFrame(rows)], ignore_index=True)
    split = random.Random(seed * 104729 + 3)
    picked = set(split.sample(range(len(corpus.files)), round(DELTA_SHARE * len(corpus.files))))
    is_delta = [i in picked for i in range(len(corpus.files))] + whole_in_delta
    extra = pd.DataFrame(
        [
            {"left_id": a, "right_id": b, "block_key": None, "is_duplicate": True}
            for a, b in positives
        ],
        columns=corpus.labeled_pairs.columns,
    )
    labeled = pd.concat([corpus.labeled_pairs, extra], ignore_index=True)
    return ResolveInput(files=files, labeled_pairs=labeled, is_delta=is_delta, bridges=bridges)


def _bridge_triple(rng: random.Random, seed: int, b: int) -> tuple[dict, dict, dict]:
    """Files A, C and bridge B. A and C have unrelated names and contents
    sharing about 70% of their tokens: no rule of the duplicate decision
    matches them. B is A renamed with a ``_v2`` stem (block keys fuzzy
    above 85) and carries C's content verbatim, so it matches A by name
    and token Jaccard and C by identical content: A and C are one entity
    once B arrives."""
    idx = 70_000 + b
    idents = [f"brg_{idx}_{k}" for k in range(100)]
    cut = len(idents) // 5

    def text(words: list) -> str:
        return "\n".join(
            " ".join(
                rng.choice(fixtures.KEYWORDS) if rng.random() < 0.3 else rng.choice(words)
                for _ in range(6)
            )
            for _ in range(70)
        )

    x, y = text(idents[:-cut]), text(idents[cut:])
    stem = f"{_word(rng)}_{_word(rng)}_bridge{b}"

    def row(repo: str, path: str, content: str) -> dict:
        commit = hashlib.sha1(f"{seed}:{repo}:{path}".encode()).hexdigest()
        return {"repo": repo, "path": path, "commit": commit, "lang": "py", "content": content}

    a = row(f"bridge-{seed}-{b}/app", f"src/{stem}.py", x)
    c = row(f"bridge-{seed}-{b}/lib", f"lib/{_word(rng)}{b}_{_word(rng)}.py", y)
    bridge = row(f"bridge-{seed}-{b}/fork", f"src/{stem}_v2.py", y)
    return a, c, bridge


def _source_text(rng: random.Random, idx: int, n_tokens: int) -> str:
    """Code-like text: common keywords and identifiers unique to ``idx``."""
    idents = [f"fam_{idx}_{k}" for k in range(n_tokens // 8)]
    lines = []
    while n_tokens > 0:
        n = min(n_tokens, rng.randint(3, 8))
        lines.append(" ".join(
            rng.choice(fixtures.KEYWORDS) if rng.random() < 0.35 else rng.choice(idents)
            for _ in range(n)
        ))
        n_tokens -= n
    return "\n".join(lines)


def _word(rng: random.Random) -> str:
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 9)))


@dataclass
class DocsInput:
    documents: pd.DataFrame
    #: (left_doc, right_doc) with left < right, all pairs inside a family
    truth_pairs: set


def documents(seed: int) -> DocsInput:
    """Near-duplicate families inside (lang, source) blocks: each family
    is an original plus exact copies and copies with ~3% of the words
    replaced or the tail cut, in a fixed cycle of family sizes. Families never span blocks, because the
    n-gram entry only pairs documents inside one (lang, source) block."""
    rng = random.Random(seed)
    vocab = sorted({_word(rng) for _ in range(8000)})
    rng.shuffle(vocab)
    cum, acc = [], 0.0
    for rank in range(len(vocab)):
        acc += 1.0 / (rank + 1) ** 0.5
        cum.append(acc)

    def text(n_words: int) -> list[str]:
        return rng.choices(vocab, cum_weights=cum, k=n_words)

    docs, truth = [], set()
    blocks = [(lang, f"src{k}") for lang in ("en", "de") for k in range(3)]
    fam = 0
    while len(docs) < N_DOCS:
        # family shapes and blocks cycle, so every seed gets the same mix
        lang, source = blocks[fam % len(blocks)]
        n_copies = COPIES_PER_FAMILY[fam % len(COPIES_PER_FAMILY)]
        fam += 1
        words = text(rng.randint(100, 120))
        members = [len(docs)]
        docs.append((" ".join(words), lang, source))
        for k in range(n_copies):
            kind = k % 3
            if kind == 0:
                copy = words
            elif kind == 1:
                copy = list(words)
                for _ in range(max(1, len(copy) // 33)):
                    copy[rng.randrange(len(copy))] = rng.choice(vocab)
            else:
                copy = words[: len(words) - rng.randint(1, max(1, len(words) // 20))]
            members.append(len(docs))
            docs.append((" ".join(copy), lang, source))
        truth.update(itertools.combinations(members, 2))
    df = pd.DataFrame(
        [
            {"doc_id": i, "text": t, "lang": lang, "source": src, "n_chars": len(t)}
            for i, (t, lang, src) in enumerate(docs)
        ]
    )
    return DocsInput(documents=df, truth_pairs=truth)
