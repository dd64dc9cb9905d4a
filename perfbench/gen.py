"""Seeded, vectorised input generator for the benchmark workloads.

Every table uses the reference's column names. Jobs and documents come in
batches, one file per batch, each row with a `batch` column naming the op it
belongs to (the runner drops it); the skills' `part` names the load step
instead: 0 the initial build, then one per delta append:

  skills.parquet(abbreviation, level_description, level, part)
  jobs/<batch>.parquet(job_code, gpt_job_description, batch)
  documents/<batch>.parquet(doc_id, text, batch)

Texts are drawn from topic clusters (each topic has its own core vocabulary,
mixed with a shared Zipf background), so IVF lists separate topics and ANN
recall is non-trivial. A share of the documents are planted near-duplicates
of another document of the same batch. The vocabulary and topics are fixed;
the seed draws the texts, and the same seed always gives the same bytes. The
parameters are written next to the tables in `params.json`.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SYLLABLES = np.array([a + b for a in "bcdfghklmnprstvz" for b in "aeiou"])

# Per-workload parameters. The number of batches is set per run from its
# length (see `batches`).
WORKLOADS = {
    "skills_match": dict(
        vocab=6000, topics=40, core=120, core_share=0.7,
        dim=256, lists=16, probes=2, k=10, levels=24,
        skills=1000, deltas=1, delta_skills=100, skill_tokens=(12, 40),
        jobs_per_batch=100, job_tokens=(40, 90)),
    "train_prep": dict(
        vocab=8000, topics=40, core=300, core_share=0.6,
        docs_per_batch=400, doc_tokens=(60, 200), dup_share=0.2,
        dup_edit=0.04),
}

# The first batches are the held-out and warm-up ops (see Workloads.scala);
# every measured op takes its own batch, and no op is expected to take less
# than MIN_OP_S, far below any op measured so far.
RESERVED_BATCHES = 4
MIN_OP_S = 0.5


def batches(seconds):
    return RESERVED_BATCHES + int(np.ceil(seconds / MIN_OP_S))


def vocabulary(rng, n):
    """`n` distinct pseudo-words of 2 to 4 syllables."""
    words = set()
    while len(words) < n:
        m = n - len(words)
        lens = rng.integers(2, 5, size=m * 2)
        picks = rng.integers(0, len(SYLLABLES), size=(m * 2, 4))
        for row, ln in zip(SYLLABLES[picks], lens):
            words.add("".join(row[:ln]))
    return np.array(sorted(words)[:n])


def zipf_probs(n, s=1.1):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


# The language (vocabulary and topic cores) is the same for every seed; the
# seed draws the texts. A seed-drawn language would change how much the
# texts of a batch overlap, and with it the dedup and search work per op.
LANGUAGE_SEED = 20240601


class TopicText:
    """Topic-clustered token streams: token ids drawn as one matrix per call."""

    def __init__(self, rng, p):
        self.rng = rng
        lang = np.random.default_rng(LANGUAGE_SEED)
        self.words = vocabulary(lang, p["vocab"])
        self.core = np.stack([lang.choice(p["vocab"], p["core"], replace=False)
                              for _ in range(p["topics"])])
        self.core_p = zipf_probs(p["core"])
        self.bg_p = zipf_probs(p["vocab"])
        self.core_share = p["core_share"]

    def token_ids(self, topics, lo, hi, second=None):
        """(ids matrix n × hi, lengths) for texts of the given topics; with
        `second`, half of the topic words come from a second topic."""
        rng, n = self.rng, len(topics)
        lens = rng.integers(lo, hi + 1, size=n)
        t = topics[:, None]
        if second is not None:
            t = np.where(rng.random((n, hi)) < 0.5, t, second[:, None])
        core = self.core[t, rng.choice(self.core.shape[1], (n, hi), p=self.core_p)]
        bg = rng.choice(len(self.words), (n, hi), p=self.bg_p)
        ids = np.where(rng.random((n, hi)) < self.core_share, core, bg)
        return ids, lens

    def render(self, ids, lens):
        """Join each row's first `lens` words with single spaces."""
        flat = ids[np.arange(ids.shape[1])[None, :] < lens[:, None]]
        offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
        words = pa.array(self.words).take(pa.array(flat))
        return pc.binary_join(pa.ListArray.from_arrays(offsets, words), " ")

    def texts(self, topics, lo, hi, second=None):
        return self.render(*self.token_ids(topics, lo, hi, second))


def _write(path, table):
    pq.write_table(pa.table(table), path, compression="snappy")


def _write_batches(path, table, per):
    """Rows are in batch order, `per` to a batch; each batch goes to its own
    file `<path>/<batch>.parquet`, which its op reads as a user reads a
    batch file. (A filter on the batch column would put a new literal into
    every op's generated code, so no op could reuse another's.)"""
    t = pa.table(table)
    os.makedirs(path)
    for b in range(t.num_rows // per):
        pq.write_table(t.slice(b * per, per),
                       os.path.join(path, f"{b:05d}.parquet"), compression="snappy")


def gen_skills_match(rng, p, out):
    """The skills load as a base build of `skills - deltas·delta_skills`
    rows, then `deltas` appends of `delta_skills` rows each."""
    tt = TopicText(rng, p)
    n, d, nd = p["skills"], p["delta_skills"], p["deltas"]
    part = np.zeros(n, dtype=np.int32)
    part[n - nd * d:] = np.repeat(np.arange(1, nd + 1, dtype=np.int32), d)
    _write(os.path.join(out, "skills.parquet"), dict(
        abbreviation=[f"SK{i:07d}" for i in range(n)],
        level_description=tt.texts(rng.integers(0, p["topics"], size=n),
                                   *p["skill_tokens"]),
        level=rng.integers(1, p["levels"] + 1, size=n).astype(np.int32),
        part=part))
    # a job asks for skills of two topics, so its neighbours span lists
    n = p["jobs_per_batch"] * p["batches"]
    topics = rng.integers(0, p["topics"], size=(2, n))
    _write_batches(os.path.join(out, "jobs"), dict(
        job_code=[f"JOB{i:07d}" for i in range(n)],
        gpt_job_description=tt.texts(topics[0], *p["job_tokens"], topics[1]),
        batch=np.repeat(np.arange(p["batches"], dtype=np.int32),
                        p["jobs_per_batch"])), p["jobs_per_batch"])


def gen_train_prep(rng, p, out):
    """Per batch: originals plus planted copies of originals of the same
    batch, each copy with `dup_edit` of its tokens replaced."""
    tt = TopicText(rng, p)
    nb, per = p["batches"], p["docs_per_batch"]
    n = nb * per
    lo, hi = p["doc_tokens"]
    ids, lens = tt.token_ids(rng.integers(0, p["topics"], size=n), lo, hi)
    n_dup = int(round(per * p["dup_share"]))
    n_orig = per - n_dup
    # copies sit at the end of each batch; sources are originals of it
    src_local = rng.integers(0, n_orig, size=(nb, n_dup))
    base = (np.arange(nb) * per)[:, None]
    src = (base + src_local).ravel()
    dst = (base + n_orig + np.arange(n_dup)[None, :]).ravel()
    ids[dst] = ids[src]
    lens[dst] = lens[src]
    # exactly round(dup_edit · length) tokens replaced per copy, so every
    # copy keeps 3-gram Jaccard ≥ 0.5 with its source (the dedup threshold)
    keys = rng.random(ids[dst].shape)
    keys[np.arange(hi)[None, :] >= lens[dst][:, None]] = 2.0
    rank = np.argsort(np.argsort(keys, axis=1), axis=1)
    n_edit = np.maximum(1, np.round(p["dup_edit"] * lens[dst])).astype(int)
    edit = rank < n_edit[:, None]
    ids[dst] = np.where(edit, rng.integers(0, len(tt.words), ids[dst].shape),
                        ids[dst])
    # shuffle the doc ids within each batch so copies are not id-ordered
    perm = np.concatenate([b * per + rng.permutation(per) for b in range(nb)])
    doc_id = np.empty(n, dtype=np.int64)
    doc_id[perm] = np.arange(n, dtype=np.int64)
    _write_batches(os.path.join(out, "documents"), dict(
        doc_id=doc_id, text=tt.render(ids, lens),
        batch=np.repeat(np.arange(nb, dtype=np.int32), per)), per)
    _write(os.path.join(out, "planted.parquet"), dict(
        copy_id=doc_id[dst], source_id=doc_id[src]))


GENERATORS = {"skills_match": gen_skills_match, "train_prep": gen_train_prep}


def generate(workload, seed, out, seconds):
    """Write the tables of a `seconds`-long run for `seed` into `out`;
    return the params."""
    p = dict(WORKLOADS[workload], workload=workload, seed=seed,
             language_seed=LANGUAGE_SEED, batches=batches(seconds))
    os.makedirs(out, exist_ok=True)
    GENERATORS[workload](np.random.default_rng(seed), p, out)
    with open(os.path.join(out, "params.json"), "w") as f:
        json.dump(p, f, indent=1, sort_keys=True)
    return p
