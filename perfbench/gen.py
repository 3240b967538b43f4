"""Seeded, single-threaded input generator for the perfbench workloads.

The program under test receives only what this module writes:

* ``ingest_steady``: queue files, one JSON-array payload of ``BATCH`` posts
  per file (the reference harvester's batch size). The seed picks which
  docs share a payload, the payload order, and the later positions at which
  about a tenth of the payloads are replayed. File modification times
  follow the queue order, so the file-source stream reads them in that order.
* ``nlp_batch``: post and comment payload files for the set-up load. The
  seed picks which docs are posts, each comment's parent, every
  ``created_utc``, and which docs carry no "coffee" term.

Every doc's text and language come from the sf0.1 ``documents`` table
(``data/documents-sf0.1.json.gz``): doc ``i`` takes corpus row
``i % 5000``, so a run larger than the corpus replicates it with disjoint
ids. The seed never picks the text, only how the docs are grouped,
ordered and split.

Sizes depend only on the workload and its scale, never on the seed: every
seed yields the same number of docs, payloads and files. The same seed
yields byte-identical files.
"""
import gzip
import json
import os
import random
import time

BATCH = 10                      # posts per queue payload
REPLAY_SHARE = 0.10             # payloads delivered twice
POST_SHARE = 0.30               # nlp_batch: share of docs that are posts
NO_COFFEE_SHARE = 0.10          # nlp_batch: docs the coffee filter drops
LAND_FILES = 1                  # nlp_batch: payload files per kind, one append each
BASE_EPOCH = 1704067200         # 2024-01-01T00:00:00Z
HORIZON_S = 86400               # every created_utc within one day

# [lang, text] of the sf0.1 documents table, in doc_id order. Exported
# once with: duckdb "SELECT lang, text FROM documents.parquet ORDER BY doc_id".
CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "data", "documents-sf0.1.json.gz")
SUBREDDITS = ["Adelaide", "australia", "brisbane", "melbourne", "sydney"]


def _utc(ts):
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(ts))


def corpus(n_docs):
    """[lang, text] of docs 0..n_docs-1: the corpus, replicated as needed."""
    with gzip.open(CORPUS, "rt", encoding="utf-8") as f:
        rows = json.load(f)
    return [rows[i % len(rows)] for i in range(n_docs)]


def _dump(docs):
    return json.dumps(docs, separators=(",", ":"), ensure_ascii=True)


def _write(path, line, mtime):
    with open(path, "w", encoding="ascii", newline="\n") as f:
        f.write(line + "\n")
    os.utime(path, (mtime, mtime))


def ingest(out_dir, seed, n_docs):
    """Stage the ingest queue. Returns the manifest the checks use."""
    rng = random.Random(seed)
    posts = []
    for i, (lang, text) in enumerate(corpus(n_docs)):
        posts.append({
            "author": "harvester",
            "created_utc": _utc(BASE_EPOCH + rng.randrange(HORIZON_S)),
            "id": "d%d" % i,
            "num_comments": 1,
            "score": rng.randrange(-5, 100),
            "selftext": text,
            "subreddit": rng.choice(SUBREDDITS),
            "title": "coffee notes " + lang,
            "url": "url",
        })
    rng.shuffle(posts)
    payloads = [_dump(posts[k:k + BATCH]) for k in range(0, n_docs, BATCH)]
    # Replays: each picked payload is re-emitted at a later queue position.
    n_replay = round(len(payloads) * REPLAY_SHARE)
    order = list(range(len(payloads)))
    for p in sorted(rng.sample(range(len(payloads)), n_replay)):
        order.insert(rng.randrange(order.index(p) + 1, len(order) + 1), p)
    qdir = os.path.join(out_dir, "queue")
    os.makedirs(qdir)
    for pos, p in enumerate(order):
        _write(os.path.join(qdir, "q%06d.json" % pos), payloads[p], BASE_EPOCH + pos)
    return {"docs": n_docs, "payloads": len(payloads), "files": len(order),
            "replayed": n_replay}


def nlp(out_dir, seed, n_docs):
    """Stage post and comment payloads for the nlp_batch set-up load."""
    rng = random.Random(seed)
    idx = list(range(n_docs))
    post_idx = set(rng.sample(idx, round(n_docs * POST_SHARE)))
    no_coffee = set(rng.sample(idx, round(n_docs * NO_COFFEE_SHARE)))
    post_ids = ["p%d" % i for i in sorted(post_idx)]
    posts, comments = [], []
    for i, (lang, text) in enumerate(corpus(n_docs)):
        created = _utc(BASE_EPOCH + rng.randrange(HORIZON_S))
        sub = rng.choice(SUBREDDITS)
        coffee = i not in no_coffee
        if i in post_idx:
            posts.append({
                "author": "u%d" % rng.randrange(1000), "created_utc": created,
                "id": "p%d" % i, "num_comments": rng.randrange(20),
                "score": rng.randrange(-5, 100), "selftext": text,
                "subreddit": sub,
                "title": ("coffee notes " if coffee else "notes ") + lang,
                "url": "url"})
        else:
            comments.append({
                "created_utc": created, "p_id": rng.choice(post_ids),
                "c_id": "c%d" % i,
                "body": ("coffee " if coffee else "") + text,
                "subreddit": sub, "title": "thread", "score": rng.randrange(-5, 100)})
    # One payload per line; the set-up lands each file as one append, so
    # the sinks get the multi-append layout the ingest stream writes.
    for kind, docs in (("posts", posts), ("comments", comments)):
        d = os.path.join(out_dir, kind)
        os.makedirs(d)
        lines = [_dump(docs[k:k + BATCH]) for k in range(0, len(docs), BATCH)]
        step = -(-len(lines) // LAND_FILES)
        for f in range(LAND_FILES):
            _write(os.path.join(d, "q%03d.json" % f),
                   "\n".join(lines[f * step:(f + 1) * step]), BASE_EPOCH + f)
    return {"docs": n_docs, "posts": len(posts), "comments": len(comments),
            "coffee_docs": n_docs - len(no_coffee), "files": 2 * LAND_FILES}


GENERATORS = {"ingest_steady": ingest, "batch_mix": nlp}


def generate(workload, out_dir, seed, n_docs):
    """Write the workload's inputs under out_dir; return its manifest."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = GENERATORS[workload](out_dir, seed, n_docs)
    manifest.update(workload=workload, seed=seed)
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest
