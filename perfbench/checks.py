"""Output checks, written against the workloads' outputs on disk with NumPy
and pyarrow only: no code of the program under test is used to decide
whether its answers are right. Where a check needs a value the program
derives from its input (an embedding, a near-duplicate cluster), it is
recomputed here from the generated input.

Every check returns a list of problems; an empty list means the op passed.
"""
import csv
import glob
import hashlib
import os
import re

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

# Distances are computed in a different order here than in the program, so
# equal rankings may differ in the last bits of a distance.
TIE = 1e-9


def read_table(path, hive=False):
    """A parquet file or a directory of part files (Spark's layout)."""
    if hive:
        return ds.dataset(path, format="parquet", partitioning="hive").to_table()
    return pq.read_table(path)


def vectors(table, col):
    """A list<double> column as an (n, dim) float64 matrix."""
    arr = table.column(col).combine_chunks()
    n = len(arr)
    return arr.flatten().to_numpy().reshape(n, -1) if n else np.zeros((0, 0))


def cosine_dist(m, q):
    return 1.0 - (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))


# ---- text: the library's tokenizer and token hash, restated ----------------

# Spark's `split(lower(text), "\\s+")`: Java's \s is these six characters.
_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_HASHES = {}


def tokens(text):
    """Lowercased whitespace tokens, empties dropped."""
    return [t for t in _WS.split(text.lower()) if t]


def token_hash(t):
    """First 8 hex digits of the token's md5, as an integer."""
    h = _HASHES.get(t)
    if h is None:
        h = _HASHES[t] = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
    return h


def embed(texts, dim):
    """Hashing-TF embedding: per text, token counts in bucket
    `token_hash mod dim`, scaled to unit L2 norm. Returns (n, dim)."""
    out = np.zeros((len(texts), dim))
    for i, t in enumerate(texts):
        for tok in tokens(t):
            out[i, token_hash(tok) % dim] += 1.0
    return out / np.linalg.norm(out, axis=1, keepdims=True)


def read_report(report_dir):
    rows = []
    for f in sorted(glob.glob(os.path.join(report_dir, "part-*.csv"))):
        with open(f, newline="") as fh:
            rows.extend(csv.DictReader(fh))
    return rows


# ---- skills_match ----------------------------------------------------------

def expected_ranking(dist, ids, levels, k, overfetch=10):
    """The reference's dedup ranking: top k·overfetch by (dist, id), first
    occurrence of each level wins, first k kept. Returns row indices."""
    order = np.lexsort((ids, dist))[:k * overfetch]
    seen, out = set(), []
    for r in order:
        if levels[r] not in seen:
            seen.add(levels[r])
            out.append(r)
            if len(out) == k:
                break
    return out


def ivf_recall(dist, ids, lists, cdist, probes, k):
    """recall@k of a probe-pruned search for one query: the exact top k by
    (dist, id) within the `probes` lists whose centroids are nearest by
    (dist, list id), against the exact top k over every list."""
    exact = np.lexsort((ids, dist))[:k]
    probed = np.lexsort((np.arange(len(cdist)), cdist))[:probes]
    cand = np.flatnonzero(np.isin(lists, probed))
    ann = cand[np.lexsort((ids[cand], dist[cand]))[:k]]
    return len(set(ann) & set(exact)) / len(exact)


def check_report(rows, batch_jobs, index, job_vecs, k):
    """`rows`: report rows; `batch_jobs`: the job codes of the batch;
    `index`: (ids, levels, vectors) of the loaded rows; `job_vecs`:
    {job: vector}, ranked here by brute force."""
    problems = []
    jobs = [r["job"] for r in rows]
    if len(jobs) != len(set(jobs)):
        problems.append("report has duplicate job rows")
    missing = set(batch_jobs) - set(jobs)
    extra = set(jobs) - set(batch_jobs)
    if missing or extra:
        problems.append(f"report jobs differ from the batch: "
                        f"{len(missing)} missing, {len(extra)} extra")
    ids, levels, mat = index
    pos = {s: i for i, s in enumerate(ids)}
    by_job = {r["job"]: r for r in rows}
    for r in rows:
        skills = [r.get(f"skill{i}") or None for i in range(k)]
        lv = [r.get(f"level{i}") or None for i in range(k)]
        got = [(s, l) for s, l in zip(skills, lv) if s is not None]
        if len({l for _, l in got}) != len(got):
            problems.append(f"job {r['job']}: repeated level")
        for s, l in got:
            if s not in pos or str(levels[pos[s]]) != l:
                problems.append(f"job {r['job']}: skill {s} with level {l} "
                                f"is not in the index")
    for job, q in job_vecs.items():
        if job not in by_job:
            continue
        dist = cosine_dist(mat, q)
        want = expected_ranking(dist, ids, levels, k)
        got = [by_job[job].get(f"skill{i}") or None for i in range(k)]
        got = [s for s in got if s is not None]
        if len(got) != len(want):
            problems.append(f"job {job}: {len(got)} skills, brute force "
                            f"gives {len(want)}")
            continue
        for rank, (s, w) in enumerate(zip(got, want)):
            if s not in pos or abs(dist[pos[s]] - dist[w]) > TIE:
                problems.append(f"job {job}: rank {rank} is {s}, brute force "
                                f"gives {ids[w]}")
                break
    return problems


# The program rounds each query's recall and the mean to 6 digits; a
# distance tie at rank k may also resolve differently here. Two swapped
# neighbours in a batch of 100 jobs stay within this.
RECALL_TOL = 0.002


def batch_recall(qs, index, lists, cents, probes, k):
    ids, _, mat = index
    per_q = [round(ivf_recall(cosine_dist(mat, q), ids, lists,
                              cosine_dist(cents, q), probes, k), 6) for q in qs]
    return round(float(np.mean(per_q)), 6)


# Stored vectors are compared with the recomputed ones within this; the
# program sums and normalises in another order.
VEC_TOL = 1e-9


def check_index(ids, levels, stored, lists, cents, skills):
    """The loaded index against the skills input: every skill exactly once
    (after the appends and the compaction), with its level and its
    hashing-TF vector, in the list of its nearest centroid."""
    problems = []
    want_ids, want_levels, want_vecs = skills
    if len(ids) != len(want_ids) or set(ids) != set(want_ids):
        problems.append(f"index holds {len(ids)} rows ({len(set(ids))} distinct), "
                        f"{len(want_ids)} skills were loaded")
        return problems
    order = np.argsort(ids)
    want = np.argsort(want_ids)
    if not np.array_equal(levels[order], want_levels[want]):
        problems.append("stored levels differ from the skills input")
    err = np.abs(stored[order] - want_vecs[want]).max(axis=1)
    if err.max() > VEC_TOL:
        r = order[int(err.argmax())]
        problems.append(f"stored vector of {ids[r]} differs from its hashing-TF "
                        f"embedding by {err.max():.3g}")
    d = 1.0 - stored @ cents.T / (np.linalg.norm(stored, axis=1)[:, None]
                                   * np.linalg.norm(cents, axis=1)[None, :])
    wrong = np.flatnonzero(d[np.arange(len(ids)), lists] > d.min(axis=1) + TIE)
    if len(wrong):
        r = wrong[0]
        problems.append(f"{len(wrong)} rows outside their nearest list, e.g. "
                        f"{ids[r]} in list {lists[r]}, nearest {int(d[r].argmin())}")
    return problems


def index_bytes(path):
    return sum(os.path.getsize(f) for f in
               glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def check_skills_match(work, data, params, ops, run):
    dim, k = params["dim"], params["k"]
    skills = pq.read_table(os.path.join(data, "skills.parquet"))
    jobs = pq.read_table(os.path.join(data, "jobs"))
    path = os.path.join(work, "index")
    idx = read_table(path, hive=True)
    ids = np.array(idx.column("abbreviation").to_pylist())
    levels = np.array(idx.column("level").to_pylist())
    lists = np.array(idx.column("list_id").to_pylist())
    cents = np.asarray(run["setup"]["centroids"], dtype=np.float64)
    run["stored_bytes_per_vector"] = index_bytes(path) / max(len(ids), 1)
    skill_ids = np.array(skills.column("abbreviation").to_pylist())
    skill_vecs = embed(skills.column("level_description").to_pylist(), dim)
    stored = vectors(idx, "embedding")
    run_problems = check_index(
        ids, levels, stored, lists, cents,
        (skill_ids, np.array(skills.column("level").to_pylist()), skill_vecs))
    # rankings and recall are brute-forced over vectors recomputed from the
    # input texts, so a wrong embedder cannot pass by agreeing with itself
    pos = {s: i for i, s in enumerate(skill_ids)}
    if not run_problems:
        stored = skill_vecs[[pos[i] for i in ids]]
    index = (ids, levels, stored)
    control = run["setup"].get("control_recall")
    if control != 1.0:
        run_problems.append(f"control batch with probes = lists has recall "
                            f"{control}, want 1.0")
    batch_col = np.array(jobs.column("batch").to_pylist())
    codes = np.array(jobs.column("job_code").to_pylist())
    texts = np.array(jobs.column("gpt_job_description").to_pylist(), dtype=object)
    per_op = []
    for op in ops:
        if not op["ok"]:
            per_op.append([op.get("error", "op threw")])
            continue
        mine = batch_col == op["batch"]
        job_vecs = dict(zip(codes[mine], embed(list(texts[mine]), dim)))
        p = check_report(read_report(os.path.join(op["dir"], "report")),
                         list(codes[mine]), index, job_vecs, k)
        if not 0.0 < op["recall_at_10"] <= 1.0:
            p.append(f"recall_at_10 {op['recall_at_10']} outside (0, 1]")
        want = batch_recall(list(job_vecs.values()), index, lists, cents,
                            params["probes"], k)
        if abs(op["recall_at_10"] - want) > RECALL_TOL:
            p.append(f"recall_at_10 {op['recall_at_10']}, a probe-pruned "
                     f"brute force over the stored lists gives {want}")
        per_op.append(p)
    return per_op, run_problems


# ---- train_prep ------------------------------------------------------------

def expected_chunks(n, window, stride):
    """(chunk count, chunk token total) of a doc with `n` tokens."""
    starts = np.arange(1, n + 1, stride)
    return len(starts), int(np.minimum(window, n - starts + 1).sum())


# graft.operators.Dedup's gram hash: a base-31 fold of the gram's token
# hashes, modulo this prime
SHINGLE_P = 1000000007


def gram_hashes(toks, n):
    """Distinct hashes of the doc's `n`-token grams."""
    hs = [token_hash(t) for t in toks]
    out = set()
    for i in range(len(hs) - n + 1):
        acc = 0
        for h in hs[i:i + n]:
            acc = (acc * 31 + h) % SHINGLE_P
        out.add(acc)
    return out


def round6(num, den):
    """num/den rounded half up at 6 digits, in integers (the library's
    ExactRound), as millionths."""
    return (num * 2000000 + den) // (2 * den)


def expected_clusters(texts, cfg):
    """Brute-force `prepareTrainingData` up to the clusters: the docs that
    pass the quality filter (token floor, gram repetition ceiling), joined
    by every pair whose gram Jaccard rounds to at least the threshold, each
    labelled with the smallest id of its connected component. `texts`:
    {doc: text}. Returns ({doc: cluster}, {doc: token count})."""
    n = cfg["gram_n"]
    n_tokens, grams = {}, {}
    for d, t in texts.items():
        toks = tokens(t)
        g = gram_hashes(toks, n)
        total = max(len(toks) - (n - 1), 0)
        rep = round6(total - len(g), total) / 1e6 if total else 0.0
        if len(toks) >= cfg["min_tokens"] and rep <= cfg["max_rep"]:
            n_tokens[d], grams[d] = len(toks), g
    # only docs sharing a gram can reach a positive Jaccard
    postings = {}
    for d, g in grams.items():
        for h in g:
            postings.setdefault(h, []).append(d)
    theta = round(cfg["min_jaccard"] * 1e6)
    parent = {d: d for d in grams}

    def root(d):
        while parent[d] != d:
            parent[d] = parent[parent[d]]
            d = parent[d]
        return d
    seen = set()
    for docs in postings.values():
        for i, a in enumerate(docs):
            for b in docs[i + 1:]:
                if (a, b) in seen:
                    continue
                seen.add((a, b))
                shared = len(grams[a] & grams[b])
                union = len(grams[a]) + len(grams[b]) - shared
                if shared * 2000000 >= union * (2 * theta - 1):
                    ra, rb = root(a), root(b)
                    parent[max(ra, rb)] = min(ra, rb)
    return {d: root(d) for d in grams}, n_tokens


def check_training(clusters, chunks, shards, texts, planted, cfg):
    """`clusters`: {doc: cluster}; `chunks`: {doc: (count, tokens)};
    `shards`: rows of (doc, grp, n_tokens, shard_idx); `texts`: {doc: text}
    of the op's input; `planted`: (copy, source) pairs."""
    problems = []
    want, n_tokens = expected_clusters(texts, cfg)
    missing, extra = set(want) - set(clusters), set(clusters) - set(want)
    if missing or extra:
        problems.append(f"clusters hold {len(clusters)} docs, the quality filter "
                        f"keeps {len(want)}: {len(missing)} missing, {len(extra)} "
                        f"extra")
    wrong = sorted(d for d in set(want) & set(clusters) if clusters[d] != want[d])
    if wrong:
        d = wrong[0]
        problems.append(f"{len(wrong)} docs in the wrong cluster, e.g. doc {d} in "
                        f"{clusters[d]}, brute force gives {want[d]}")
    for c, s in planted:
        if want.get(c) is None or want.get(c) != want.get(s):
            problems.append(f"planted copy {c} is not a near-duplicate of its "
                            f"source {s}")
            break
    kept = {d for d, c in want.items() if d == c}
    if set(chunks) != kept:
        problems.append(f"chunks cover {len(chunks)} docs, {len(kept)} kept")
    for d in kept & set(chunks):
        want_ch = expected_chunks(n_tokens[d], cfg["window"], cfg["stride"])
        if chunks[d] != want_ch:
            problems.append(f"doc {d}: chunks {chunks[d]}, want {want_ch}")
            break
    if {r[0] for r in shards} != kept or len(shards) != len(kept):
        problems.append(f"shards hold {len(shards)} rows, {len(kept)} docs kept")
    if sum(r[2] for r in shards) != sum(n_tokens[d] for d in kept):
        problems.append("shard token total differs from the kept docs' tokens")
    before = {}
    for d, g, n, idx in sorted(shards):
        b = before.get(g, 0)
        if g != d % cfg["groups"] or idx != b // cfg["budget"]:
            problems.append(f"doc {d}: shard {idx} in group {g} is misplaced")
            break
        before[g] = b + n
    return problems


# graft.Pipeline.TrainingConfig's defaults
TRAINING = dict(min_tokens=5, max_rep=0.2, gram_n=3, min_jaccard=0.5,
                window=128, stride=96, groups=32, budget=4096)


def check_train_prep(work, data, params, ops, run):
    docs = pq.read_table(os.path.join(data, "documents"))
    ids = np.array(docs.column("doc_id").to_pylist())
    text = np.array(docs.column("text").to_pylist(), dtype=object)
    batch_col = np.array(docs.column("batch").to_pylist())
    planted = list(zip(*[pq.read_table(os.path.join(data, "planted.parquet"))
                         .column(c).to_pylist() for c in ("copy_id", "source_id")]))
    per_op = []
    for op in ops:
        if not op["ok"]:
            per_op.append([op.get("error", "op threw")])
            continue
        d = op["dir"]
        cl = read_table(os.path.join(d, "clusters"))
        clusters = dict(zip(cl.column("doc_id").to_pylist(),
                            cl.column("cluster_id").to_pylist()))
        ch = read_table(os.path.join(d, "chunks"))
        chunks = {}
        for doc, n in zip(ch.column("doc_id").to_pylist(),
                          ch.column("n_chunk_tokens").to_pylist()):
            c, t = chunks.get(doc, (0, 0))
            chunks[doc] = (c + 1, t + n)
        sh = read_table(os.path.join(d, "shards"))
        shards = list(zip(*[sh.column(c).to_pylist()
                            for c in ("doc_id", "grp", "n_tokens", "shard_idx")]))
        mine = batch_col == op["batch"]
        texts = dict(zip(ids[mine].tolist(), text[mine]))
        per_op.append(check_training(clusters, chunks, shards, texts,
                                     [(c, s) for c, s in planted if c in texts],
                                     TRAINING))
    return per_op, []


CHECKS = {"skills_match": check_skills_match, "train_prep": check_train_prep}
