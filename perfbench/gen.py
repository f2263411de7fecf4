"""Seeded input generator for the benchmark workloads.

Every input a workload run reads is written here, from the seed alone:
the same (workload, seed) pair always yields byte-identical files. The
program under test only ever sees these files.

The knobs the engine's behaviour depends on are explicit arguments:
near-duplicate share and document length (LSH candidate volume, component
sizes, decontamination hits), cluster tightness of the vectors (probe-list
size and recall), batch size, the nprobe/k/filter mix of the queries, and
the share of repeated queries.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIMS = 64
MARKERS = {  # graft.functions.TextFunctions.langMarkers
    "datish": ["data", "row", "column", "table"],
    "perfish": ["fast", "slow", "big", "small"],
    "sqlish": ["join", "filter", "window", "agg"],
    "streamish": ["stream", "batch", "value", "vector"],
}
STOPWORDS = ["the", "a"]
# a flat Zipf keeps chance 2-shingle overlaps between unrelated docs rare,
# so LSH candidates are mostly the planted duplicates and duplicate groups
# stay small
ZIPF = 0.5
EDIT_SHARE = 0.04  # tokens a planted near-duplicate rewrites


def _vocab(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, k)))
    reserved = {w for ws in MARKERS.values() for w in ws} | set(STOPWORDS)
    return sorted(words - reserved)


class TextSource:
    """Documents over a Zipf vocabulary with planted near-duplicates.

    A planted near-duplicate copies an earlier document and rewrites
    `EDIT_SHARE` of its tokens, so its 2-shingle Jaccard with the original
    stays high enough for the LSH banding to catch it.
    """

    def __init__(self, rng, vocab_size=8000, mean_len=60, dup_share=0.15):
        self.rng = rng
        self.words = np.array(_vocab(rng, vocab_size) + STOPWORDS)
        ranks = np.arange(1, len(self.words) + 1, dtype=np.float64)
        p = ranks ** -ZIPF
        self.p = p / p.sum()
        self.mean_len = mean_len
        self.dup_share = dup_share
        self.langs = sorted(MARKERS)
        self.texts = []       # every text produced so far (dup sources)
        self.dup_of = {}      # planted near-dup doc index -> source index

    def _fresh(self):
        n = int(np.clip(self.rng.lognormal(np.log(self.mean_len), 0.5), 16, 400))
        toks = list(self.rng.choice(self.words, n, p=self.p))
        lang = self.langs[int(self.rng.integers(len(self.langs)))]
        for i in self.rng.choice(n, max(1, n // 25), replace=False):
            toks[i] = MARKERS[lang][int(self.rng.integers(4))]
        return toks

    def next(self):
        i = len(self.texts)
        if i > 0 and self.rng.random() < self.dup_share:
            src = int(self.rng.integers(i))
            toks = self.texts[src].split(" ")
            for j in range(len(toks)):
                if self.rng.random() < EDIT_SHARE:
                    toks[j] = str(self.rng.choice(self.words, p=self.p))
            self.dup_of[i] = src
        else:
            toks = self._fresh()
        text = " ".join(toks)
        self.texts.append(text)
        return text


def noisy(rng, centers, tightness):
    v = centers + tightness * rng.standard_normal(centers.shape) / np.sqrt(DIMS)
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def unit_centers(rng, k):
    c = rng.standard_normal((k, DIMS))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _emb_array(v):
    return pa.array(list(v), type=pa.list_(pa.float32()))


def write_docs(path, ids, texts):
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(texts, type=pa.string())}), path)


def write_vectors(path, ids, vecs):
    pq.write_table(pa.table({
        "vec_id": pa.array(ids, type=pa.int64()),
        "embedding": _emb_array(vecs)}), path)


def write_posts(path, rng, n, dup_share=0.1, video_share=0.2):
    """A feed-scrape `posts` CSV (graft.schema.Schemas.postsCsv order).

    Returns the ids the Preprocessor stage must keep: first row per
    shortcode by (timestamp, id), images only, years [2012, 2020)."""
    import csv
    src = TextSource(rng, vocab_size=800, mean_len=12, dup_share=0.0)
    rows, shortcodes = [], []
    base = 1262304000  # 2010-01-01
    for i in range(n):
        if shortcodes and rng.random() < dup_share:
            sc = shortcodes[int(rng.integers(len(shortcodes)))]
        else:
            sc = f"sc{i}"
            shortcodes.append(sc)
        ts = base + int(rng.integers(0, 12 * 365 * 86400))
        video = bool(rng.random() < video_share)
        likes = int(rng.integers(0, 5000))
        tags = [f"#Tag{int(t)}" for t in rng.integers(0, 40, int(rng.integers(0, 5)))]
        rows.append({
            "id": 10_000_000 + i, "shortcode": sc, "post_url": f"p/{sc}",
            "type": "GraphVideo" if video else "GraphImage",
            "is_video": "true" if video else "false",
            "likes": likes, "comment_count": int(rng.integers(0, 300)),
            "comments_disabled": "true" if rng.random() < 0.05 else "false",
            "search_mode": "hashtag", "search_term": "bench",
            "caption": src.next(), "hashtags": json.dumps(tags),
            "display_url": f"d{i}", "owner_id": int(rng.integers(0, 500)),
            "timestamp": ts, "mentions": "[]", "thumbnail_src": f"t{i}"})
    cols = ["id", "shortcode", "post_url", "type", "is_video", "likes",
            "comment_count", "comments_disabled", "search_mode", "search_term",
            "caption", "hashtags", "display_url", "owner_id", "timestamp",
            "mentions", "thumbnail_src"]
    import datetime
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(cols)
        for r in rows:
            r = dict(r)
            r["timestamp"] = datetime.datetime.fromtimestamp(
                r["timestamp"], datetime.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
            w.writerow([r[c] for c in cols])
    first = {}
    for r in rows:
        key = (r["timestamp"], r["id"])
        if r["shortcode"] not in first or key < first[r["shortcode"]][0]:
            first[r["shortcode"]] = (key, r)
    lo = 1325376000  # 2012-01-01
    hi = 1577836800  # 2020-01-01
    return sorted(r["id"] for _, r in first.values()
                  if r["is_video"] == "false" and lo <= r["timestamp"] < hi)


# ----------------------------------------------------------- workloads

def gen_nightly(out, rng, p):
    os.makedirs(out, exist_ok=True)
    src = TextSource(rng, mean_len=p["doc_len"], dup_share=p["dup_share"])
    texts = [src.next() for _ in range(p["docs"])]
    write_docs(f"{out}/docs.parquet", list(range(len(texts))), texts)
    kept = write_posts(f"{out}/posts.csv", rng, p["posts"])
    return {"docs": len(texts), "posts": p["posts"], "posts_kept": kept,
            "planted_dups": sorted(src.dup_of),
            "rows_per_op": len(texts) + p["posts"]}


def micro_vectors(rng, n_clusters, size, tightness):
    """`n_clusters` micro-clusters of exactly `size` unit vectors each,
    interleaved: vector i belongs to micro-cluster i % n_clusters, so any
    run of consecutive ids spans many micro-clusters. With tight
    micro-clusters every member's true top-`size` neighbours are its
    mates, which a PQ code can tell apart from other micro-clusters: recall
    then measures the index's routing and coding, not sampling noise.
    Returns (vectors, centres)."""
    centers = unit_centers(rng, n_clusters)
    lab = np.tile(np.arange(n_clusters), size)
    v = centers[lab] + tightness * rng.standard_normal((len(lab), DIMS)) / np.sqrt(DIMS)
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32), centers


def gen_ingest_retrieve(out, rng, p):
    os.makedirs(out, exist_ok=True)
    src = TextSource(rng, mean_len=p["doc_len"], dup_share=p["dup_share"])
    n_seed, b, nb, size = p["seed_docs"], p["batch"], p["batches"], p["micro_size"]
    n = n_seed + b * nb
    texts = [src.next() for _ in range(n)]
    # the seed and every batch bring their own micro-clusters
    seed_micro = n_seed // size
    seed_vecs, seed_centers = micro_vectors(rng, seed_micro, size, p["tightness"])
    vecs = np.concatenate([seed_vecs] + [micro_vectors(rng, b // size, size, p["tightness"])[0]
                                         for _ in range(nb)])
    ids = np.arange(n)
    write_docs(f"{out}/documents.parquet", ids[:n_seed], texts[:n_seed])
    write_vectors(f"{out}/seed_vectors.parquet", ids[:n_seed], vecs[:n_seed])
    pq.write_table(pa.table({
        "batch": pa.array(np.repeat(np.arange(nb), b), type=pa.int64()),
        "doc_id": pa.array(ids[n_seed:], type=pa.int64()),
        "text": pa.array(texts[n_seed:], type=pa.string()),
        "embedding": _emb_array(vecs[n_seed:])}), f"{out}/batches.parquet",
        row_group_size=b)
    u = p["updates"]
    pq.write_table(pa.table({
        "batch": pa.array(np.repeat(np.arange(nb), u), type=pa.int64()),
        "post_id": pa.array(rng.integers(0, p["update_keys"], nb * u), type=pa.int64()),
        "likes": pa.array(rng.integers(0, 10_000, nb * u), type=pa.int64()),
        "comments": pa.array(rng.integers(0, 500, nb * u), type=pa.int64()),
        # one strictly increasing version per update: latest-wins is total
        "version": pa.array(np.arange(nb * u), type=pa.int64())}),
        f"{out}/updates.parquet", row_group_size=u)
    # forget sets: one whole seed micro-cluster each, outside the ones
    # holding the model rows (coarse centroids and codebook are ids below
    # coarse + codebook), disjoint across sets
    model = p["coarse"] + p["codebook"]
    pool = rng.permutation(np.arange(model, seed_micro))
    forget = [sorted(int(pool[i] + seed_micro * k) for k in range(size))
              for i in range(p["forget_sets"])]
    kept = pool[p["forget_sets"]:]
    allowed = np.flatnonzero(rng.random(n) < p["allowed_share"])
    pq.write_table(pa.table({"vec_id": pa.array(allowed, type=pa.int64())}),
                   f"{out}/allowed.parquet")
    # query requests: `per_request` fresh vectors each, ids above every
    # corpus id
    qn, per_q = p["requests"], p["per_request"]
    qid0 = 1_000_000_000
    pq.write_table(pa.table({
        "request": pa.array(np.repeat(np.arange(qn), per_q), type=pa.int64()),
        "vec_id": pa.array(qid0 + np.arange(qn * per_q), type=pa.int64()),
        "embedding": _emb_array(noisy(rng, seed_centers[rng.integers(seed_micro, size=qn * per_q)],
                                      p["tightness"]))}), f"{out}/queries.parquet")
    # the op sequence repeats the workload's fixed cycle of op kinds, so
    # every seed runs the same mix; the seed draws each query's vectors, and
    # a `repeat_share` of queries re-issue the request an earlier op of the
    # same slot sent
    ops, batch, last = [], 0, {}
    cycle = p["cycle"]
    for i in range(p["ops"]):
        slot = i % len(cycle)
        o = dict(cycle[slot])
        if o["kind"] == "batch":
            if batch == nb:
                break
            o.update(batch=batch, forget=batch < p["forget_sets"])
            batch += 1
        elif o["kind"] == "ivf":
            repeat = slot in last and rng.random() < p["repeat_share"]
            o.update(request=last[slot] if repeat else int(rng.integers(qn)), repeat=repeat)
            last[slot] = o["request"]
        ops.append(o)
    # recall queries sit on seed micro-clusters that no forget set removes
    rq = kept[rng.integers(len(kept), size=p["recall_queries"])]
    write_vectors(f"{out}/recall_queries.parquet", 2 * qid0 + np.arange(len(rq)),
                  noisy(rng, seed_centers[rq], p["tightness"]))
    return {"seed_docs": n_seed, "batch": b, "batches": nb, "updates": u,
            "docs": n, "forget_sets": forget,
            "ops": ops, "recall_nprobe": p["recall_nprobe"]}


GENERATORS = {"nightly_pipeline": gen_nightly, "ingest_retrieve": gen_ingest_retrieve}


def generate(workload, seed, out, params):
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    return GENERATORS[workload](out, rng, params)
