"""Seeded input generation for the perfbench workloads.

Two input families, each cached under ``.bench_build/data`` by seed and
size:

* ``mr``: corral's example inputs. Plain text lines with Zipf-skewed
  words (wordcount) plus AMPLab ``rankings`` and ``uservisits`` CSV
  without headers (amplab1-3), relabelled per seed (see ``gen_mr``).
* ``corpus``: the ``documents`` parquet table for the LLM-data verbs. A
  fixed base corpus (the same for every seed) is replicated ``REPLICAS``
  times, and every replica's text goes through its own seed-derived
  letter permutation (never the identity). The cipher is a bijection
  that keeps within-replica token equality exactly, so duplicate
  structure is identical across seeds while the bytes differ.

Both families follow the same scheme: a fixed base drawn from a seeded
PRNG, relabelled by the run's seed. Work counts (jobs, output rows) are
therefore the same for every seed.
"""
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Replica ids are offset by a multiple of 10 so the engine's
# doc_id % 10 corpus/increment split carries over to every replica.
REPLICA_OFFSET = 10_000_000
REPLICAS = 10
BASE_SEED = 20261017
LANGS = ["en", "es", "fr", "de", "zh"]
LETTERS = "abcdefghijklmnopqrstuvwxyz"

SIZES = {
    # text lines, rankings rows, uservisits rows
    "mr": {"lines": 30_000, "rankings": 15_000, "visits": 60_000},
    # base documents, each replicated REPLICAS times
    "corpus": {"docs": 100},
}
KEEP_CACHED = 4


def _words(rng, n, lo, hi):
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(list(LETTERS), rng.integers(lo, hi + 1)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_index(rng, n_items, size, s):
    ranks = np.arange(1, n_items + 1, dtype=np.float64)
    p = ranks ** -s
    return rng.choice(n_items, size=size, p=p / p.sum())


# -- corral_mr inputs ------------------------------------------------------

def _mr_base(size):
    """The fixed corral inputs: Zipf text lines, rankings with unique
    URLs and skewed page ranks, and Zipf-skewed visits by IP and URL."""
    rng = np.random.default_rng(BASE_SEED)
    vocab = np.array(_words(rng, 20_000, 2, 10))
    lens = rng.integers(4, 17, size["lines"])
    toks = vocab[_zipf_index(rng, len(vocab), int(lens.sum()), 1.1)]
    lines = [" ".join(ws) for ws in np.split(toks, np.cumsum(lens)[:-1])]

    n_rank = size["rankings"]
    urls = np.array([f"www.{w}{i}.example/{v}" for i, (w, v) in enumerate(
        zip(vocab[rng.integers(0, len(vocab), n_rank)],
            vocab[rng.integers(0, len(vocab), n_rank)]))])
    ranks = np.minimum(1 + rng.geometric(0.04, n_rank), 100)
    rankings = [f"{u},{r},{d}" for u, r, d in
                zip(urls, ranks, rng.integers(1, 100, n_rank))]

    n_vis, n_ips = size["visits"], 20_000
    ip_pool = np.array([".".join(str(x) for x in rng.integers(1, 255, 4))
                        for _ in range(n_ips)])
    ips = ip_pool[_zipf_index(rng, n_ips, n_vis, 0.9)]
    dest = urls[_zipf_index(rng, n_rank, n_vis, 1.05)]
    dates = (np.datetime64("1985-01-01") + rng.integers(0, 365 * 30, n_vis)).astype(str)
    # quarter-unit revenues are exact in binary floating point, so the
    # engine's and the oracle's sums agree bit for bit in any order
    revs = rng.integers(0, 4000, n_vis) / 4.0
    agents = np.array(["mozilla", "opera", "curl", "safari"])[rng.integers(0, 4, n_vis)]
    cc = rng.integers(0, 6, n_vis)
    countries = np.array(["usa", "deu", "fra", "jpn", "bra", "ind"])[cc]
    langs = np.array(["en", "de", "fr", "ja", "pt", "hi"])[cc]
    words = vocab[rng.integers(0, len(vocab), n_vis)]
    durs = rng.integers(1, 60, n_vis)
    visits = list(zip(ips, dest, dates, revs, agents, countries, langs, words, durs))
    return lines, rankings, visits


def _mr_base_files(cache, size):
    """Write the base corral inputs once per size; they do not depend on
    the seed, so every seed's inputs are a relabelling of these files."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    d = os.path.join(cache, f"mr-base-{tag}")
    if not os.path.exists(os.path.join(d, "_READY")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        lines, rankings, visits = _mr_base(size)
        with open(f"{d}/text", "w") as f:
            f.write("\n".join(lines) + "\n")
        with open(f"{d}/rankings", "w") as f:
            f.write("\n".join(rankings) + "\n")
        with open(f"{d}/uservisits", "w") as f:
            f.write("".join(",".join(map(str, v)) + "\n" for v in visits))
        open(os.path.join(d, "_READY"), "w").close()
    return d


def gen_mr(out, seed, size):
    """The base inputs under a seed-drawn letter permutation (words, URLs,
    strings) and digit permutation (IP addresses). Both are bijections
    that keep every equality and prefix relation the jobs group or join
    on, so each seed does the same work on different bytes."""
    rng = np.random.default_rng(seed)
    letters = _non_identity(rng, LETTERS)
    digits = _non_identity(rng, "0123456789")
    base = _mr_base_files(os.path.dirname(out), size)
    with open(f"{base}/text") as f:
        text = f.read().translate(letters).splitlines(keepends=True)
    with open(f"{base}/rankings") as f:
        rankings = f.read().translate(letters)
    with open(f"{base}/uservisits") as f:
        visits = [ip.translate(digits) + "," + rest.translate(letters)
                  for ip, rest in (line.split(",", 1) for line in f)]
    for name, lines, parts in (("text", text, 4), ("rankings", [rankings], 1),
                               ("uservisits", visits, 4)):
        os.makedirs(f"{out}/{name}")
        step = -(-len(lines) // parts)
        for i in range(parts):
            ext = "txt" if name == "text" else "csv"
            with open(f"{out}/{name}/part-{i}.{ext}", "w") as f:
                f.write("".join(lines[i * step:(i + 1) * step]))


def _non_identity(rng, alphabet):
    while True:
        perm = "".join(rng.permutation(list(alphabet)))
        if perm != alphabet:
            return str.maketrans(alphabet, perm)


# -- llm_dedup corpus ------------------------------------

def _base_docs(n):
    """The fixed base corpus: fresh Zipf documents plus copies of them,
    exact or with the last token replaced or one token appended. Every
    copy is a child of a fresh document, so any two documents of one
    family share at least 90% of their word 3-shingles and documents of
    different families share almost none. Every near-duplicate pair thus
    sits far above the verbs' Jaccard thresholds, where MinHash banding
    finds it whatever the hash values, and the work does not depend on
    the seed's relabelling."""
    rng = np.random.default_rng(BASE_SEED)
    vocab = _words(rng, 600, 3, 9)
    fresh, docs = [], []
    for i in range(n):
        if i < 8 or rng.random() < 0.6:
            k = int(rng.integers(40, 80))
            docs.append([vocab[j] for j in _zipf_index(rng, len(vocab), k, 1.05)])
            fresh.append(i)
            continue
        toks = list(docs[fresh[int(rng.integers(0, len(fresh)))]])
        u = rng.random()
        if u < 0.4:
            toks.append(vocab[int(rng.integers(0, len(vocab)))])
        elif u < 0.8:
            toks[-1] = next(w for w in (vocab[int(rng.integers(0, len(vocab)))]
                                        for _ in iter(int, 1)) if w != toks[-1])
        docs.append(toks)
    langs = [LANGS[int(x)] for x in rng.integers(0, len(LANGS), n)]
    sources = [f"src{int(x)}" for x in rng.integers(0, 20, n)]
    return [" ".join(t) for t in docs], langs, sources


def gen_corpus(out, seed, size):
    rng = np.random.default_rng(seed)
    texts, langs, sources = _base_docs(size["docs"])
    ids, rtexts = [], []
    for r in range(REPLICAS):
        table = _non_identity(rng, LETTERS)
        ids += [r * REPLICA_OFFSET + i for i in range(len(texts))]
        rtexts += [t.translate(table) for t in texts]
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(rtexts, pa.string()),
        "lang": pa.array(langs * REPLICAS, pa.string()),
        "source": pa.array(sources * REPLICAS, pa.string()),
        "n_chars": pa.array([len(t) for t in rtexts], pa.int64()),
    }), f"{out}/documents.parquet")


GENERATORS = {"mr": gen_mr, "corpus": gen_corpus}


def ensure(root, kind, seed):
    """Return (dir, generation seconds, input bytes); generation seconds
    is 0.0 on a cache hit."""
    size = SIZES[kind]
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    base = os.path.join(root, ".bench_build", "data")
    d = os.path.join(base, f"{kind}-s{seed}-{tag}")
    ready = os.path.join(d, "_READY")
    secs = 0.0
    if not os.path.exists(ready):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        t0 = time.monotonic()
        GENERATORS[kind](d, seed, size)
        secs = time.monotonic() - t0
        with open(ready, "w") as f:
            json.dump({"seed": seed, "size": size, "gen_s": secs}, f)
        _evict(base, kind)
    os.utime(ready)
    return d, secs, input_bytes(d)


def input_bytes(d):
    total = 0
    for dirpath, _, files in os.walk(d):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in files if not f.startswith("_"))
    return total


def _evict(base, kind):
    dirs = [os.path.join(base, x) for x in os.listdir(base)
            if x.startswith(kind + "-s")]
    dirs = [x for x in dirs if os.path.exists(os.path.join(x, "_READY"))]
    dirs.sort(key=lambda x: os.path.getmtime(os.path.join(x, "_READY")))
    for old in dirs[:-KEEP_CACHED]:
        shutil.rmtree(old, ignore_errors=True)
