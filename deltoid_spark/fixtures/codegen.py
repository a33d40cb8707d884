"""Deterministic synthetic code-repository table (FIXTURES.md F1).

Generates the primary input table (repo, path, commit, lang, content)
with the shapes the engine must handle at 10^12-file scale, scaled
down: zipf repo sizes with one giant repo holding ~50% of rows
(exercises salting / explicit range partitioning), per-(repo, path)
commit chains of 1-64 versions whose contents evolve by line edits /
appends / tail deletes / occasional middle inserts (mirrors the
reference's Vec edit alphabet ``EltDelta::{Edit, Add, Remove}``,
/root/reference/deltoid/src/vec.rs:103-137), plus the documented edge
rows (empty files, CRLF, unicode, no-op duplicate commits,
incompressible base64).

Commit ids are 40-char hex with the version index in a sortable
8-hex-digit prefix, so a chain's order is recoverable by ordering on
the commit string (stand-in for a commit-timestamp column).

Everything is seeded (numpy PCG64, seed=42 by default): two runs
produce byte-identical tables — required for golden metrics and for
resume tests.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

SEED = 42

LANG_EXT = {
    "python": "py", "rust": "rs", "javascript": "js", "java": "java",
    "go": "go", "cpp": "cc", "c": "c", "ruby": "rb", "scala": "scala",
    "kotlin": "kt", "typescript": "ts", "shell": "sh",
}
LANGS = sorted(LANG_EXT)

_TOKENS = (
    "def return import class self value result data config index buffer "
    "stream parse encode decode init update delete query table column row "
    "cache flush merge split join hash key for while if else try except "
    "lambda yield assert None True False from with open close read write"
).split()

_MODULES = "core util io net codec plan exec meta store index auth api".split()


def _line_pool(rng: np.random.Generator, size: int = 20_000) -> np.ndarray:
    """Pool of distinct code-ish lines; files sample line *indices* from
    it (repeated lines across files, like real code — dict/FSST friendly)."""
    toks = np.array(_TOKENS, dtype=object)
    lens = rng.integers(3, 12, size=size)
    total = int(lens.sum())
    words = toks[rng.integers(0, len(toks), size=total)]
    indents = np.array(["", "    ", "        "], dtype=object)[rng.integers(0, 3, size=size)]
    pool = np.empty(size, dtype=object)
    off = 0
    for i in range(size):
        ln = int(lens[i])
        pool[i] = indents[i] + " ".join(words[off : off + ln])
        off += ln
    return pool


def _commit_id(repo: str, path: str, version: int, sortable: bool = True) -> str:
    h = hashlib.sha1(f"{repo}|{path}|{version}|{SEED}".encode()).hexdigest()
    if sortable:
        return f"{version:08x}{h[:32]}"
    return h  # realistic content-hash commit: lexical order != version order


def generate(
    n_rows: int = 60_000,
    seed: int = SEED,
    giant_repo_share: float = 0.5,
    n_repos: int = 40,
    sortable_commits: bool = True,
    with_ts: bool = False,
) -> pd.DataFrame:
    """Generate ~n_rows of the code_files table, deterministically.

    sortable_commits=False emits realistic content-hash commit ids whose
    lexical order scrambles version order; pair with with_ts=True to add
    a commit timestamp column (the linearization signal the encode job's
    order_cols inference uses).
    """
    rng = np.random.default_rng(np.random.PCG64(seed))
    pool = _line_pool(rng)
    psize = len(pool)

    # repo weights: repo 0 is the giant; the rest split zipf(a=1.3)
    tail = 1.0 / np.power(np.arange(1, n_repos), 1.3)
    tail = tail / tail.sum() * (1 - giant_repo_share)
    weights = np.concatenate(([giant_repo_share], tail))
    repo_names = [f"org{i % 7}/repo{i}" for i in range(n_repos)]
    repo_targets = np.maximum(1, (weights * n_rows).astype(np.int64))

    rows_repo: list[str] = []
    rows_path: list[str] = []
    rows_commit: list[str] = []
    rows_lang: list[str] = []
    rows_content: list[str] = []
    rows_ts: list[int] = []  # epoch seconds; converted at the end

    for r, repo in enumerate(repo_names):
        target = int(repo_targets[r])
        made = 0
        pi = 0
        while made < target:
            lang = LANGS[int(rng.integers(0, len(LANGS)))]
            ext = LANG_EXT[lang]
            depth = int(rng.integers(1, 4))
            mods = "/".join(_MODULES[int(rng.integers(0, len(_MODULES)))] for _ in range(depth))
            path = f"src/{mods}/file_{pi}.{ext}"
            pi += 1
            n_versions = min(int(rng.geometric(0.15)), 64)
            n_versions = min(n_versions, target - made) or 1
            n_base = int(np.clip(rng.lognormal(3.2, 1.0), 5, 500))
            lines = list(rng.integers(0, psize, size=n_base))
            for v in range(n_versions):
                if v > 0:
                    n_edits = min(int(rng.geometric(0.5)), 8)
                    for _ in range(n_edits):
                        op = rng.random()
                        if op < 0.6 and lines:  # in-place edit
                            lines[int(rng.integers(0, len(lines)))] = int(rng.integers(0, psize))
                        elif op < 0.8:  # append
                            lines.extend(rng.integers(0, psize, size=int(rng.integers(1, 5))))
                        elif op < 0.9 and len(lines) > 2:  # tail delete
                            del lines[len(lines) - int(rng.integers(1, min(4, len(lines)))) :]
                        elif lines:  # middle insert (stresses positional diff)
                            lines.insert(int(rng.integers(0, len(lines))), int(rng.integers(0, psize)))
                content = "\n".join(pool[i] for i in lines)
                rows_repo.append(repo)
                rows_path.append(path)
                rows_commit.append(_commit_id(repo, path, v, sortable_commits))
                rows_lang.append(lang)
                rows_content.append(content)
                rows_ts.append(_commit_ts(repo, path, v))
            made += n_versions

    data = {
        "repo": rows_repo, "path": rows_path, "commit": rows_commit,
        "lang": rows_lang, "content": rows_content,
    }
    if with_ts:
        data["ts"] = pd.to_datetime(np.array(rows_ts, dtype=np.int64), unit="s")
    df = pd.DataFrame(data)
    return pd.concat(
        [df, _edge_rows(rng, sortable_commits, with_ts)], ignore_index=True
    )


def _commit_ts(repo: str, path: str, version: int) -> int:
    """Deterministic commit time: per-file base + one hour per version."""
    base = int(hashlib.sha1(f"ts|{repo}|{path}".encode()).hexdigest()[:8], 16) % 10**6
    return 1_577_836_800 + base + version * 3600  # 2020-01-01 epoch


def _edge_rows(
    rng: np.random.Generator, sortable: bool = True, with_ts: bool = False
) -> pd.DataFrame:
    """The adversarial rows from FIXTURES.md F1."""
    rows = []

    def chain(repo, path, lang, contents):
        for v, c in enumerate(contents):
            row = [repo, path, _commit_id(repo, path, v, sortable), lang, c]
            if with_ts:
                row.append(pd.Timestamp(_commit_ts(repo, path, v), unit="s"))
            rows.append(tuple(row))

    chain("edge/empty", "e/empty.py", "python", ["", "x", ""])
    chain("edge/single", "e/one.py", "python", ["single line no newline"])
    chain("edge/crlf", "e/crlf.c", "c", ["a\r\nb\r\n", "a\r\nB\r\n", "a\r\nB\r\nc\r\n"])
    chain("edge/unicode", "e/uni.rs", "rust",
          ["héllo 🎉\n日本語", "héllo 🎊\n日本語", "héllo 🎊\n日本語\nпривет"])
    chain("edge/dup", "e/dup.go", "go", ["same\ncontent"] * 4)  # no-op deltas
    chain("edge/regrow", "e/regrow.js", "javascript", ["a\nb\nc", "", "a\nb\nc\nd"])
    chain("edge/notrail", "e/nt.py", "python", ["l1\nl2", "l1\nl2\n"])
    b64 = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
    arr = np.array(list(b64), dtype=object)
    blob = lambda: "".join(arr[rng.integers(0, 64, size=512)])  # noqa: E731
    chain("edge/random", "e/blob.bin", "shell", [blob() for _ in range(6)])
    cols = ["repo", "path", "commit", "lang", "content"] + (["ts"] if with_ts else [])
    return pd.DataFrame(rows, columns=cols)


def write_parquet(df: pd.DataFrame, path: str, n_shards: int = 32) -> str:
    """Write as a directory of shard files so Spark's scan parallelizes
    (a single parquet file = one input split = a serialized map side)."""
    if os.path.isdir(path) or not path.endswith(".parquet") or n_shards > 1:
        os.makedirs(path, exist_ok=True)
        step = max(1, (len(df) + n_shards - 1) // n_shards)
        for s, lo in enumerate(range(0, max(1, len(df)), step)):
            df.iloc[lo : lo + step].to_parquet(
                os.path.join(path, f"part-{s:05d}.parquet"), index=False
            )
        return path
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    df.to_parquet(path, index=False)
    return path


# generated fixtures cache beside the package, in the checkout root
FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".fixtures",
)


def fixture_path(name: str, base: str = FIXTURE_DIR) -> str:
    return os.path.join(base, f"code_files_{name}.parquet")


SIZES = {"tiny": 2_000, "small": 60_000, "bench": 960_000}


def ensure_fixture(name: str = "small", base: str = FIXTURE_DIR) -> str:
    """Generate-once cache: fixtures are deterministic, so an existing
    file is always valid for the same (name, seed)."""
    path = fixture_path(name, base)
    if not os.path.exists(path):
        df = generate(SIZES[name])
        write_parquet(df, path)
    return path
