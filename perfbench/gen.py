"""Seeded input generators for the benchmark workloads.

Each generator writes into a fresh directory and is a pure function of the
seed: the same seed gives byte-identical inputs. `generate(workload, seed,
root)` writes the inputs once and caches them under `root/<workload>-<seed>`;
`manifest.json` in that directory records what was planted, and the program
under test only ever sees the data files.
"""

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASES = np.frombuffer(b"ACGT", dtype=np.uint8)
COMPLEMENT = np.zeros(256, dtype=np.uint8)
for _a, _b in zip(b"ACGT", b"TGCA"):
    COMPLEMENT[_a] = _b

# Sizes. Every pass must fit several times into one measured window on a
# 4-core host, so the inputs are small; the properties the workloads stress
# (repeats, sequencing errors, duplicate clusters, contamination) are planted
# explicitly instead of arising from volume.
GENOME_BP = 120_000
GENOME_REPEAT_EVERY = 12_000
READ_LEN = 150
READ_ERR = 0.005
RUN_COVERAGE = 20
REPEAT_LEN = 400
CORPUS_DOCS = 2_000
CORPUS_SOURCES = 8


def _rng(seed, salt):
    return np.random.default_rng([int(seed), salt])


def revcomp(seq):
    return COMPLEMENT[np.frombuffer(seq, dtype=np.uint8)[::-1]].tobytes()


def _genome(rng, length, repeat, every):
    """Random genome with `repeat` planted at evenly spaced positions (with a
    small jitter), so contig breaks fall at predictable intervals and N50 is
    steady across seeds."""
    g = BASES[rng.integers(0, 4, length)].copy()
    rep = np.frombuffer(repeat, dtype=np.uint8)
    for start in range(every // 2, length - len(rep), every):
        at = start + int(rng.integers(-200, 200))
        g[at:at + len(rep)] = rep
    return g


def _reads(rng, genome, coverage):
    """`coverage`x of READ_LEN reads, uniform start, random strand, uniform
    substitution errors at READ_ERR per base."""
    n = len(genome) * coverage // READ_LEN
    starts = rng.integers(0, len(genome) - READ_LEN + 1, n)
    reads = genome[starts[:, None] + np.arange(READ_LEN)[None, :]]
    flip = rng.random(n) < 0.5
    reads[flip] = COMPLEMENT[reads[flip][:, ::-1]]
    err = rng.random(reads.shape) < READ_ERR
    shift = rng.integers(1, 4, int(err.sum()))
    idx = np.searchsorted(BASES, reads[err])
    reads[err] = BASES[(idx + shift) % 4]
    return reads


def _write_fastq(path, reads):
    qual = b"I" * READ_LEN
    with open(path, "wb") as f:
        for i, r in enumerate(reads):
            f.write(b"@r%d\n%s\n+\n%s\n" % (i, r.tobytes(), qual))


def gen_genome_run(seed, out):
    rng = _rng(seed, 1)
    repeat = BASES[rng.integers(0, 4, REPEAT_LEN)].tobytes()
    genome = _genome(rng, GENOME_BP, repeat, GENOME_REPEAT_EVERY)
    reads = _reads(rng, genome, RUN_COVERAGE)
    os.makedirs(f"{out}/reads")
    _write_fastq(f"{out}/reads/reads.fq", reads)
    with open(f"{out}/reference.txt", "wb") as f:
        f.write(genome.tobytes())
    return {"genome_bp": len(genome), "coverage": RUN_COVERAGE,
            "records": len(reads), "record": "read",
            "repeat_len": REPEAT_LEN, "repeat_every": GENOME_REPEAT_EVERY}


STOPWORDS = ["the", "a", "of", "and", "in", "to"]


def gen_curate_corpus(seed, out):
    """Web-like corpus: Zipf content words with stopwords mixed in, a short
    per-source boilerplate header, planted exact duplicates, near-duplicate
    clusters (one hot), and a small share of docs that copy a 6-word span
    from a held-out test doc (doc_id % 100 == 0, the CLI's split)."""
    rng = _rng(seed, 3)
    n_docs = CORPUS_DOCS
    vocab = [f"w{i}" for i in range(8000)]
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    zipf /= zipf.sum()

    def body(nwords):
        words = [vocab[i] for i in rng.choice(len(vocab), nwords, p=zipf)]
        for j in np.flatnonzero(rng.random(nwords) < 0.18):
            if j > 0:
                words[j] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
        return words

    headers = [f"home src{s} news".split() for s in range(CORPUS_SOURCES)]
    texts, sources = [], []
    for d in range(n_docs):
        src = int(rng.integers(0, CORPUS_SOURCES))
        sources.append(f"src{src}")
        texts.append(headers[src] + body(int(rng.integers(30, 90))))

    def edit(words, n_edits):
        w = list(words)
        for _ in range(n_edits):
            w[int(rng.integers(4, len(w)))] = vocab[int(rng.integers(0, len(vocab)))]
        return w

    train_ids = [d for d in range(n_docs) if d % 100 != 0]
    test_ids = [d for d in range(n_docs) if d % 100 == 0]
    taken = set(test_ids)

    def pick(k):
        pool = [d for d in train_ids if d not in taken]
        got = [int(x) for x in rng.choice(pool, k, replace=False)]
        taken.update(got)
        return got

    # exact duplicates: pairs and triples of identical texts
    n_exact = 0
    for _ in range(n_docs // 40):
        ids = pick(int(rng.integers(2, 4)))
        for d in ids[1:]:
            texts[d] = list(texts[ids[0]])
            n_exact += 1
    # near-duplicate clusters: small clusters plus one hot cluster
    clusters = [int(rng.integers(2, 6)) for _ in range(n_docs // 60)]
    hot = n_docs // 25
    clusters.append(hot)
    for size in clusters:
        ids = pick(size)
        for d in ids[1:]:
            texts[d] = edit(texts[ids[0]], int(rng.integers(1, 3)))
    # contamination: a 6-word span of a test doc spliced into a train doc
    n_contam = n_docs // 100
    for d in pick(n_contam):
        src = texts[int(rng.choice(test_ids))]
        at = int(rng.integers(4, len(src) - 6))
        pos = int(rng.integers(4, len(texts[d])))
        texts[d] = texts[d][:pos] + src[at:at + 6] + texts[d][pos:]

    joined = [" ".join(t) for t in texts]
    langs = [("en", "de", "fr", "es")[i % 4] for i in range(n_docs)]
    # the testdata layout (<dir>/documents.parquet), which the program's
    # stream replay also reads
    os.makedirs(f"{out}/documents.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": joined,
        "lang": langs,
        "source": sources,
        "n_chars": pa.array([len(t) for t in joined], pa.int64()),
    }), f"{out}/documents.parquet/part-0.parquet")
    return {"records": n_docs, "record": "doc", "exact_copies": n_exact,
            "near_dup_clusters": len(clusters), "hot_cluster": hot,
            "contaminated": n_contam}


GENERATORS = {
    "genome_run": gen_genome_run,
    "curate_corpus": gen_curate_corpus,
}


def generate(workload, seed, root):
    """Return (dir, manifest) for the workload's inputs, generating them on
    first use. A half-written directory (no manifest) is rebuilt."""
    out = os.path.join(root, f"{workload}-{seed}")
    man = os.path.join(out, "manifest.json")
    if os.path.exists(man):
        with open(man) as f:
            return out, json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    manifest = GENERATORS[workload](seed, out)
    manifest.update(workload=workload, seed=seed)
    with open(man, "w") as f:
        json.dump(manifest, f, indent=1)
    return out, manifest
