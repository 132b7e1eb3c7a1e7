"""Seeded input generator for the graft end-to-end benchmark.

Inputs are made in two steps, both deterministic:

1. A base corpus with the shape of the sf0.1 test tables (5,000 documents
   over a 30-word vocabulary with planted near and exact duplicates, 2,000
   unit 64-d embeddings with 10 labels, a 100,000-event WAL over 1,500
   users). It comes from a fixed generator seed, so every run starts from
   the same base and only the transforms below vary.
2. Seed-chosen transforms in the manner of tools/scale_testdata.py: a
   letter-substitution cipher on document text, a circular rotation of
   embedding dimensions, permutations of document, vector and user ids,
   an event-id key shift, and a row permutation of every table. Id
   permutations keep each id range, so probe sets chosen by `id % m`
   keep their sizes and every seed does the same amount of work.

The `Tables` pinned schema is kept (bigint ids, array<float> embeddings,
a naive-microsecond `ts`). The events WAL is written as a multi-file
parquet directory. The same seed gives byte-identical files.

    python3 e2ebench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import string
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
N_DOCS, N_VECS, N_EVENTS, N_USERS, DIM = 5000, 2000, 100_000, 1500, 64
# Share of the base corpus each workload uses (leading rows of each table).
SCALE = {"rag_serve": 0.25, "memory_lifecycle": 1.0, "curation_batch": 0.25}
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS, LANG_P = ["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
TS0_US = 1704067200 * 1_000_000          # 2024-01-01 00:00:00 UTC
MONTH_US = 30 * 86400 * 1_000_000
WAL_PARTS = 4                            # base WAL part files
APPEND_EVENTS = 1000                     # events per appended WAL batch
APPEND_BATCHES = 32                      # batches generated (the run uses a prefix)
NEW_USERS = 500                          # user ids only append batches introduce
SHARDS = 8                               # curation shards generated


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def base_corpus():
    """The fixed sf0.1-shaped base tables as numpy/python columns."""
    r = np.random.default_rng(BASE_SEED)
    n_words = r.integers(10, 101, N_DOCS)
    texts = [" ".join(r.choice(WORDS, n)) for n in n_words]
    near = r.choice(np.arange(1, N_DOCS), 250, replace=False)
    for d in near:                       # near-duplicate of an earlier doc
        texts[d] = texts[int(r.integers(0, d))] + " dup"
    exact = r.choice(np.setdiff1d(np.arange(1, N_DOCS), near), 8, replace=False)
    for d in exact:                      # exact duplicate of an earlier doc
        texts[d] = texts[int(r.integers(0, d))]
    docs = {
        "text": texts,
        "lang": list(r.choice(LANGS, N_DOCS, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
    }
    emb = r.standard_normal((N_VECS, DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    vecs = {"embedding": emb, "label": r.integers(0, 10, N_VECS).astype(np.int32)}
    ts = np.sort(TS0_US + r.integers(0, MONTH_US, N_EVENTS))
    events = {
        "ts": ts,
        "user_id": r.integers(0, N_USERS, N_EVENTS),
        "event_type": r.integers(0, len(EVENT_TYPES), N_EVENTS),
        "value": np.round(r.exponential(50.0, N_EVENTS), 2),
        "k": r.integers(0, 100, N_EVENTS),
    }
    return docs, vecs, events


def cipher(texts, rng):
    """Seeded letter-substitution cipher: keeps lengths and word structure,
    changes every shingle."""
    letters = string.ascii_lowercase
    perm = "".join(rng.permutation(list(letters)))
    table = str.maketrans(letters, perm)
    return [t.translate(table) for t in texts]


def documents_table(docs, rng) -> pa.Table:
    texts = cipher(docs["text"], rng)
    n = len(texts)
    ids = rng.permutation(n)             # which id each text gets
    order = rng.permutation(n)           # row order in the file
    return pa.table({
        "doc_id": pa.array(ids[order], pa.int64()),
        "text": pa.array([texts[i] for i in order], pa.string()),
        "lang": pa.array([docs["lang"][i] for i in order], pa.string()),
        "source": pa.array([docs["source"][i] for i in order], pa.string()),
        "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
    })


def embeddings_table(vecs, rng) -> pa.Table:
    emb = np.roll(vecs["embedding"], int(rng.integers(1, DIM)), axis=1)
    n = len(emb)
    ids = rng.permutation(n)
    order = rng.permutation(n)
    flat = pa.array(emb[order].reshape(-1), pa.float32())
    return pa.table({
        "vec_id": pa.array(ids[order], pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32)), flat),
        "label": pa.array(vecs["label"][order], pa.int32()),
    })


def events_table(ev, event_ids) -> pa.Table:
    return pa.table({
        "event_id": pa.array(event_ids, pa.int64()),
        "ts": pa.array(ev["ts"], pa.timestamp("us")),
        "user_id": pa.array(ev["user_id"], pa.int64()),
        "event_type": pa.array([EVENT_TYPES[t] for t in ev["event_type"]], pa.string()),
        "value": pa.array(ev["value"], pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in ev["k"]], pa.string()),
    })


def append_batches(rng, user_perm):
    """WAL batches with skewed user ids: a Zipf draw over a seeded ranking of
    existing and new users, so a few hot users take most events and each
    batch also introduces some keys."""
    ranked = rng.permutation(N_USERS + NEW_USERS)
    out = []
    for _ in range(APPEND_BATCHES):
        rank = np.minimum(rng.zipf(1.3, APPEND_EVENTS) - 1, len(ranked) - 1)
        uid = ranked[rank]
        uid = np.where(uid < N_USERS, user_perm[np.minimum(uid, N_USERS - 1)], uid)
        out.append({
            "ts": np.sort(TS0_US + MONTH_US - 5 * 86400 * 1_000_000
                          + rng.integers(0, 6 * 86400 * 1_000_000, APPEND_EVENTS)),
            "user_id": uid,
            "event_type": rng.integers(0, len(EVENT_TYPES), APPEND_EVENTS),
            "value": np.round(rng.exponential(50.0, APPEND_EVENTS), 2),
            "k": rng.integers(0, 100, APPEND_EVENTS),
        })
    return out


def key_counts(base_keys, batches):
    """Distinct (user_id, event_type) memory keys after 0..len(batches)
    appends, computed here in numpy, independently of both engines."""
    seen = set(base_keys)
    counts = [len(seen)]
    for b in batches:
        seen.update(zip(b["user_id"].tolist(), b["event_type"].tolist()))
        counts.append(len(seen))
    return counts


def generate(workload: str, seed: int, out: str) -> dict:
    docs, vecs, events = base_corpus()
    scale = SCALE[workload]
    docs = {c: v[:int(N_DOCS * scale)] for c, v in docs.items()}
    vecs = {c: v[:int(N_VECS * scale)] for c, v in vecs.items()}
    n_events = int(N_EVENTS * scale)
    events = {c: v[:n_events] for c, v in events.items()}
    rng = np.random.default_rng([seed, 7])
    os.makedirs(out, exist_ok=True)
    files, rows = [], {}

    def put(table: pa.Table, rel: str):
        path = os.path.join(out, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        _write(table, path)
        files.append(rel)
        rows[rel] = table.num_rows

    manifest = {"workload": workload, "seed": seed, "scale": scale}
    if workload == "rag_serve":
        put(documents_table(docs, rng), "corpus/documents.parquet")
        put(embeddings_table(vecs, rng), "corpus/embeddings.parquet")
    elif workload == "memory_lifecycle":
        user_perm = rng.permutation(N_USERS)
        shift = int(rng.integers(1, 1000)) * 1_000_000
        ev = dict(events, user_id=user_perm[events["user_id"]])
        order = rng.permutation(n_events)
        ids = np.arange(n_events) + shift
        for p, part in enumerate(np.array_split(order, WAL_PARTS)):
            part = np.sort(part)
            put(events_table({c: v[part] for c, v in ev.items()}, ids[part]),
                f"corpus/events.parquet/part-{p:05d}.parquet")
        batches = append_batches(rng, user_perm)
        next_id = shift + n_events
        for i, b in enumerate(batches):
            ids_b = np.arange(next_id, next_id + APPEND_EVENTS)
            next_id += APPEND_EVENTS
            put(events_table(b, ids_b), f"wal_batches/batch-{i:05d}.parquet")
        manifest["key_counts"] = key_counts(
            zip(ev["user_id"].tolist(), ev["event_type"].tolist()), batches)
    elif workload == "curation_batch":
        for s in range(SHARDS):
            put(documents_table(docs, np.random.default_rng([seed, 11, s])),
                f"shards/shard-{s:03d}/documents.parquet")

    manifest["files"] = {f: {"bytes": os.path.getsize(os.path.join(out, f)),
                             "rows": rows[f]} for f in files}
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
