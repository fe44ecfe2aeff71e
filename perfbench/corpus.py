"""Seeded synthetic `source_files` corpora, append increments and queries,
cached per (workload, seed) with a sha256 manifest.

Everything here is a pure function of (shape, seed): the same seed gives
byte-identical parquet files, queries and expected counts. The library
under test only ever sees the generated files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import zlib
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LANGS = ("py", "c", "go", "md")
GEN_VERSION = 3
# parquet parts per corpus, about this many, each holding whole repos; at
# least the core count, so the ingest plan never widens the input
N_CORPUS_FILES = 16
N_BATCH_QUERIES = 1024
N_LOOKUPS = 64         # distinct lookups; the timed loop cycles through them
SNIPPET_BYTES = 96
KEEP_CACHED = 6        # corpora kept in the cache, most recently used first


@dataclass(frozen=True)
class Shape:
    n_files: int
    files_per_repo: int
    mega_factor: int        # repo 0 holds this many times files_per_repo
    tokens_per_file: int
    inc_existing: int       # existing repos touched per append round
    inc_new: int            # new repos per append round
    inc_files: int          # files added to each touched repo per round
    rounds: int             # append increments, plus one spare


def _signature(seed: int, repo: str) -> str:
    """Repo-unique planted token, planted in every file of the repo. Its
    ``ZQ`` prefix is upper case, which the vocabulary never is."""
    return "ZQ" + hashlib.sha1(f"{seed}/{repo}".encode()).hexdigest()[:14]


def _vocab(rng: np.random.Generator, n: int = 4096) -> np.ndarray:
    lens = rng.integers(3, 10, size=n)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz_", dtype=np.uint8)
    chars = letters[rng.integers(0, len(letters), size=int(lens.sum()))]
    ends = np.cumsum(lens)
    return np.array([chars[e - ln:e].tobytes().decode()
                     for e, ln in zip(ends, lens)], dtype=object)


def _files_table(rng, vocab, seed: int, repos: list[str], tag: str,
                 tokens: int) -> pa.Table:
    """One row per entry of ``repos`` (a repo name per file)."""
    n = len(repos)
    langs = np.asarray(LANGS, dtype=object)[rng.integers(0, len(LANGS), n)]
    ids = rng.integers(0, len(vocab), size=(n, tokens))
    where = rng.integers(0, tokens, size=n)
    content, path, commit = [], [], []
    for i, repo in enumerate(repos):
        words = vocab[ids[i]].tolist()
        words.insert(int(where[i]), _signature(seed, repo))
        content.append(" ".join(words))
        path.append(f"src/{tag}/f{i}.{langs[i]}")
        commit.append(hashlib.sha1(f"{seed}/{repo}/{tag}/{i}".encode())
                      .hexdigest())
    return pa.table({"repo": repos, "path": path, "commit": commit,
                     "lang": langs.tolist(), "content": content})


def group_counts(table: pa.Table, k: int) -> dict[str, list[int]]:
    """Exact per-(repo, lang) ``[n_rows, n_kgrams]``; a k-gram is a k-byte
    window, as in the hashing kernels."""
    lens = pc.binary_length(table.column("content").cast(pa.binary()))
    kg = pc.max_element_wise(pc.subtract(lens, k - 1), 0)
    t = pa.table({"repo": table.column("repo"), "lang": table.column("lang"),
                  "kg": kg})
    agg = t.group_by(["repo", "lang"]).aggregate([("kg", "count"),
                                                   ("kg", "sum")])
    return {f"{r}\x00{lg}": [int(n), int(s)] for r, lg, n, s in zip(
        agg.column("repo").to_pylist(), agg.column("lang").to_pylist(),
        agg.column("kg_count").to_pylist(), agg.column("kg_sum").to_pylist())}


def repo_parts(repo_of: list[int], n_parts: int) -> list[tuple[int, int]]:
    """``[lo, hi)`` row ranges of the repo-sorted rows, about
    ``len / n_parts`` rows each, that never split a repo. The corpus is
    then clustered by the group key, the layout the library's ingest plan
    recommends: each group's rows are in one input part."""
    step = -(-len(repo_of) // n_parts)
    starts = [i for i in range(len(repo_of))
              if i == 0 or repo_of[i] != repo_of[i - 1]] + [len(repo_of)]
    out, lo = [], 0
    for a, b in zip(starts[1:], starts[2:] + [None]):
        # cut before the next repo if it would push the part past ``step``
        if b is None or b - lo > step:
            out.append((lo, a))
            lo = a
    return out


def _snippet(rng, text: str) -> str:
    start = int(rng.integers(0, max(1, len(text) - SNIPPET_BYTES)))
    return text[start:start + SNIPPET_BYTES]


def _absent(rng) -> str:
    # upper-case letters and digits only: no 8-byte window of the corpus
    alphabet = "ABCDEFGHJKLMNOPRSTUVWXY0123456789"
    return "".join(alphabet[i] for i in rng.integers(0, len(alphabet), 64))


def generate(shape: Shape, seed: int, workload: str, k: int, out: str) -> None:
    """Write corpus parts, increments, queries and expected counts."""
    rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
    vocab = _vocab(rng)
    mega = shape.files_per_repo * shape.mega_factor
    repo_of = [0 if i < mega else 1 + (i - mega) // shape.files_per_repo
               for i in range(shape.n_files)]
    names = [f"org{r % 7}/repo{r}" for r in repo_of]
    corpus = _files_table(rng, vocab, seed, names, "base",
                          shape.tokens_per_file)
    os.makedirs(os.path.join(out, "corpus"))
    for p, (lo, hi) in enumerate(repo_parts(repo_of, N_CORPUS_FILES)):
        pq.write_table(corpus.slice(lo, hi - lo),
                       os.path.join(out, "corpus", f"part-{p:04d}.parquet"))

    contents = corpus.column("content").to_pylist()
    langs = corpus.column("lang").to_pylist()
    repos = sorted(set(names))

    def verbatim(i: int) -> dict:
        return {"kind": "verbatim", "repo": names[i], "lang": langs[i],
                "snippet": _snippet(rng, contents[i])}

    def signature(i: int) -> dict:
        return {"kind": "signature", "repo": names[i], "lang": langs[i],
                "snippet": _signature(seed, names[i])}

    picks = rng.integers(0, shape.n_files, size=N_LOOKUPS)
    lookups = [signature(int(i)) if j % 4 == 3 else verbatim(int(i))
               for j, i in enumerate(picks)]
    batch = []
    for j, i in enumerate(rng.integers(0, shape.n_files,
                                       size=N_BATCH_QUERIES)):
        if j % 16 == 15:
            batch.append({"kind": "absent", "repo": "", "lang": "",
                          "snippet": _absent(rng)})
        elif j % 8 == 7:
            batch.append(signature(int(i)))
        else:
            batch.append(verbatim(int(i)))

    increments = []
    for r in list(range(shape.rounds)) + ["warm"]:
        touched = [repos[int(i)] for i in rng.choice(
            len(repos), size=shape.inc_existing, replace=False)]
        touched += [f"org{j % 7}/new_{r}_{j}" for j in range(shape.inc_new)]
        inc_names = [rp for rp in touched for _ in range(shape.inc_files)]
        inc = _files_table(rng, vocab, seed, inc_names, f"inc{r}",
                           shape.tokens_per_file)
        d = os.path.join(out, f"inc-{r}")
        os.makedirs(d)
        pq.write_table(inc, os.path.join(d, "part-0000.parquet"))
        increments.append({"path": f"inc-{r}",
                           "counts": group_counts(inc, k)})

    meta = {
        "workload": workload, "seed": seed, "k": k, "shape": asdict(shape),
        "gen_version": GEN_VERSION,
        "content_bytes": int(pc.sum(pc.binary_length(
            corpus.column("content").cast(pa.binary()))).as_py()),
        "n_files": corpus.num_rows, "n_repos": len(repos),
        "counts": group_counts(corpus, k),
        "lookups": lookups, "batch": batch, "increments": increments}
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _manifest(root: str) -> dict[str, str]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            rel = os.path.relpath(p, root)
            if rel != "manifest.json":
                out[rel] = _sha256(p)
    return dict(sorted(out.items()))


def _cache_key(shape: Shape, seed: int, workload: str, k: int) -> dict:
    return {"workload": workload, "seed": seed, "k": k, "shape": asdict(shape),
            "gen_version": GEN_VERSION}


def load(cache_root: str, shape: Shape, seed: int, workload: str,
         k: int) -> tuple[str, dict, dict]:
    """Corpus directory and metadata for (workload, seed), generating it on
    a miss. A cached copy is reused only if every file still matches its
    sha256 in the manifest. Returns (dir, meta, info)."""
    t0 = time.perf_counter()
    d = os.path.join(cache_root, f"{workload}-{seed}")
    key = _cache_key(shape, seed, workload, k)
    man_path = os.path.join(d, "manifest.json")
    info = {"cache": "miss"}
    if os.path.exists(man_path):
        with open(man_path) as f:
            man = json.load(f)
        if man.get("key") == key and man.get("files") == _manifest(d):
            info["cache"] = "hit"
        else:
            info["cache"] = "stale"
    if info["cache"] != "hit":
        shutil.rmtree(d, ignore_errors=True)
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        generate(shape, seed, workload, k, tmp)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump({"key": key, "files": _manifest(tmp)}, f)
        os.replace(tmp, d)
    os.utime(d)
    _prune(cache_root)
    with open(os.path.join(d, "meta.json")) as f:
        meta = json.load(f)
    info["seconds"] = time.perf_counter() - t0
    return d, meta, info


def _prune(cache_root: str) -> None:
    dirs = [os.path.join(cache_root, n) for n in os.listdir(cache_root)
            if not n.count(".tmp")]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for old in dirs[KEEP_CACHED:]:
        shutil.rmtree(old, ignore_errors=True)
