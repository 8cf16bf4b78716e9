"""Seeded synthetic corpus generator (FIXTURES.md §1-3).

Produces the ``files(repo, path, commit, lang, content)`` corpus with
*injected duplicate clusters* mirroring the reference's duplicate classes
(prompt rules /root/reference/app/core.py:747-749):

- re-vendored copy   : identical content, different repo/path (and
  sometimes a different lang ext — the analog of "same song, different
  extension -> DUPLICATE");
- near-duplicate     : whitespace/comment edits + one identifier renamed,
  with a path stem that still fuzzy-matches > 85 against the original
  (analog of "Live"/"Remix" -> DUPLICATE, threshold core.py:697);
- renamed file       : identical content, stem suffixed " - copy"/"_v2"
  (exercises the " - " title split, core.py:412-419);
- hard negatives     : different files sharing a stem (main.py, utils.py,
  LICENSE) that must NOT cluster — these are also the hot blocks for the
  skew tests;
- short files (<60 chars; analog of min_duration=60, core.py:279,872)
  and junk files (README.bak, .DS_Store; analog core.py:39,961-991).

Ground truth (``labeled_pairs``, ``expected_clusters``) comes from the
injection log, never from the pipeline. Everything is a pure function of
the integer seed.
"""

from __future__ import annotations

import hashlib
import itertools
import random
from dataclasses import dataclass, field

import pandas as pd

LANG_EXT = {"py": "py", "java": "java", "c": "c", "js": "js", "txt": "txt"}
KEYWORDS = (
    "def return if else for while import class new static void int const "
    "let function include struct public private final try catch raise"
).split()
HOT_STEMS = ["main", "utils", "LICENSE", "__init__", "index"]


def _sha40(s: str) -> str:
    return hashlib.sha1(s.encode()).hexdigest()


def file_id(repo: str, path: str, commit: str) -> str:
    """Row id — must match functions.text.with_derived_columns
    (128-bit truncated sha256, 32 hex chars)."""
    return hashlib.sha256("\x1f".join((repo, path, commit)).encode()).hexdigest()[:32]


def block_key(path: str) -> str:
    """Reference blocking key P3 on a path: (title or stem).lower().strip(),
    title inferred as the part after the first ' - ' in the stem
    (core.py:412-419,692-693)."""
    fname = path.rsplit("/", 1)[-1]
    # emulate os.path.splitext: a leading dot alone is not an extension
    i = fname.rfind(".")
    stem = fname[:i] if i > 0 else fname
    title = stem.split(" - ", 1)[1] if " - " in stem else stem
    return title.lower().strip()


@dataclass
class Corpus:
    files: pd.DataFrame
    labeled_pairs: pd.DataFrame
    expected_clusters: pd.DataFrame
    meta: dict = field(default_factory=dict)


def _content(rng: random.Random, idx: int, n_tokens: int) -> str:
    """File text: shared keywords + file-unique identifiers, with comments
    and newlines — token set is discriminative between base files."""
    idents = [f"var_{idx}_{k}" for k in range(max(3, n_tokens // 8))]
    lines, line = [], []
    for t in range(n_tokens):
        line.append(rng.choice(KEYWORDS) if rng.random() < 0.35 else rng.choice(idents))
        if len(line) >= rng.randint(3, 8):
            lines.append(" ".join(line))
            line = []
    if line:
        lines.append(" ".join(line))
    if rng.random() < 0.5:
        lines.insert(0, f"# module {idx} header comment")
    return "\n".join(lines)


def _near_dup(rng: random.Random, content: str, idx: int) -> str:
    """Whitespace/comment edits + one identifier renamed."""
    out = content.replace(f"var_{idx}_0", f"var_{idx}_renamed")
    lines = out.split("\n")
    pos = rng.randrange(len(lines) + 1)
    lines.insert(pos, "# edited in fork")
    return "\n".join(l.rstrip() + ("  " if rng.random() < 0.2 else "") for l in lines)


def generate_corpus(
    seed: int = 42,
    n_base: int = 400,
    n_clusters: int = 120,
    n_hard_negative_blocks: int = 6,
    hard_negative_block_size: int = 8,
    n_short: int = 40,
    n_junk: int = 25,
) -> Corpus:
    rng = random.Random(seed)
    rows: list[dict] = []
    positives: list[tuple[str, str]] = []  # (id, id) unordered
    negatives: list[tuple[str, str, str]] = []  # (id, id, shared key)
    id_key: dict[str, str] = {}

    def add_row(repo: str, path: str, lang: str, content: str) -> str:
        commit = _sha40(f"{seed}:{repo}:{path}:{len(rows)}")
        fid = file_id(repo, path, commit)
        rows.append(
            {"repo": repo, "path": path, "commit": commit, "lang": lang, "content": content}
        )
        id_key[fid] = block_key(path)
        return fid

    def repo_of(i: int) -> str:
        return f"org-{i % 37:04d}/proj-{i % 11}"

    stems_used = set(HOT_STEMS)

    def fresh_stem(i: int) -> str:
        s = f"{rng.choice(['util', 'parse', 'core', 'model', 'handler', 'io', 'sched'])}_{rng.choice(['math', 'cfg', 'net', 'db', 'fmt', 'log'])}_{i}"
        while s in stems_used:
            s += "x"
        stems_used.add(s)
        return s

    # --- plain base files (no duplicates) -------------------------------
    for i in range(n_base):
        lang = rng.choice(list(LANG_EXT))
        stem = fresh_stem(i)
        content = _content(rng, i, rng.randint(30, 400))
        add_row(repo_of(i), f"src/pkg{i % 13}/{stem}.{LANG_EXT[lang]}", lang, content)

    # --- injected duplicate clusters ------------------------------------
    cluster_members: list[list[str]] = []
    for c in range(n_clusters):
        i = n_base + c
        lang = rng.choice(["py", "java", "c", "js"])
        stem = fresh_stem(i)
        content = _content(rng, i, rng.randint(40, 350))
        members = [add_row(repo_of(i), f"src/pkg{c % 13}/{stem}.{LANG_EXT[lang]}", lang, content)]
        kind_pool = ["revendor", "neardup", "renamed"]
        n_extra = rng.randint(1, 4)
        for e in range(n_extra):
            kind = kind_pool[e % 3] if n_extra >= 3 else rng.choice(kind_pool)
            if kind == "revendor":
                # identical content, other repo; sometimes other ext
                lang2 = rng.choice([lang, rng.choice(["py", "java", "c", "js"])])
                members.append(
                    add_row(
                        repo_of(i + 1000 + e),
                        f"vendor/{stem}.{LANG_EXT[lang2]}",
                        lang2,
                        content,
                    )
                )
            elif kind == "neardup":
                # stem edited but fuzzy>85 vs original; content near-identical
                stem2 = stem + rng.choice(["2", "s", "_b"])
                members.append(
                    add_row(
                        repo_of(i + 2000 + e),
                        f"src/alt/{stem2}.{LANG_EXT[lang]}",
                        lang,
                        _near_dup(rng, content, i),
                    )
                )
            else:  # renamed: identical content, " - copy"/"_v2" stem
                suffix = rng.choice([" - copy", "_v2"])
                members.append(
                    add_row(
                        repo_of(i + 3000 + e),
                        f"src/pkg{c % 13}/{stem}{suffix}.{LANG_EXT[lang]}",
                        lang,
                        content,
                    )
                )
        cluster_members.append(members)
        positives.extend(itertools.combinations(sorted(members), 2))

    # --- hard negatives: hot blocks of same-stem distinct files ----------
    for b in range(n_hard_negative_blocks):
        stem = HOT_STEMS[b % len(HOT_STEMS)]
        ext = "py" if stem != "LICENSE" else "txt"
        ids = []
        for k in range(hard_negative_block_size):
            i = 9000 + b * 100 + k
            ids.append(
                add_row(
                    repo_of(i),
                    f"src/{stem}.{ext}" if stem != "LICENSE" else stem,
                    ext if stem != "LICENSE" else "txt",
                    _content(rng, i, rng.randint(60, 300)),
                )
            )
        key = block_key(f"src/{stem}.{ext}" if stem != "LICENSE" else stem)
        for l, r in itertools.combinations(sorted(ids), 2):
            negatives.append((l, r, key))

    # --- short + junk files ----------------------------------------------
    for k in range(n_short):
        i = 20000 + k
        add_row(repo_of(i), f"src/tiny_{k}.py", "py", f"# stub {k}"[: rng.randint(5, 50)])
    for k in range(n_junk):
        i = 30000 + k
        name = rng.choice(["README.bak", ".DS_Store", f"core_{k}.tmp", f"debug_{k}.log"])
        add_row(repo_of(i), f"src/pkg{k % 13}/{name}", "txt", f"junk {k}")

    files = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])

    pairs = [
        # cross-key positives (near-dups whose edited stems land in
        # different blocks) carry no shared key: record None, not a
        # misleading single-side key
        {"left_id": l, "right_id": r, "block_key": id_key[l] if id_key[l] == id_key[r] else None, "is_duplicate": True}
        for l, r in positives
    ] + [
        {"left_id": l, "right_id": r, "block_key": k, "is_duplicate": False}
        for l, r, k in negatives
    ]
    labeled_pairs = pd.DataFrame(
        pairs, columns=["left_id", "right_id", "block_key", "is_duplicate"]
    )

    # expected clusters: transitive closure of positives (plain union-find)
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for members in cluster_members:
        root = members[0]
        for m in members[1:]:
            ra, rb = find(root), find(m)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    assign = {}
    for members in cluster_members:
        for m in members:
            assign[m] = find(m)
    expected_clusters = pd.DataFrame(
        sorted(assign.items()), columns=["member_id", "entity_id"]
    )

    return Corpus(
        files=files,
        labeled_pairs=labeled_pairs,
        expected_clusters=expected_clusters,
        meta={
            "seed": seed,
            "n_rows": len(files),
            "n_positive_pairs": len(positives),
            "n_negative_pairs": len(negatives),
            "n_clusters": len(cluster_members),
        },
    )


def write_corpus(corpus: Corpus, out_dir: str) -> None:
    import os

    os.makedirs(out_dir, exist_ok=True)
    corpus.files.to_parquet(f"{out_dir}/files.parquet", index=False)
    corpus.labeled_pairs.to_parquet(f"{out_dir}/labeled_pairs.parquet", index=False)
    corpus.expected_clusters.to_parquet(f"{out_dir}/expected_clusters.parquet", index=False)
