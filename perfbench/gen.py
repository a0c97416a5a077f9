"""Seeded inputs for the benchmark workloads.

Every workload derives its base tables from a fixture (SCALE): a seeded
bijective renaming of the vocabulary, a seeded permutation of doc and
vector ids, and a seeded random rotation of the embeddings. Renaming,
permuting and rotating keep the fixture's size and its exact- and
near-duplicate structure (equal texts stay equal, a near-duplicate
stays one word away, cosines are unchanged), while every hash, bucket
and keeper election graft computes sees new values.

serve-ingest adds ingest batches with fresh ids and probe batches.
"""
import hashlib
import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORD = re.compile(r"[^\W\d_]+")
# The fixture marks each near-duplicate as its source text plus this word.
NEAR_DUP_MARKER = "dup"
COSINE_TAU = 0.35  # graft.registry.DedupRegistry.CosineTau

# serve-ingest shape: an assumption, not measured traffic (see README.md).
# ServeIngest.scala counts the batch files it finds.
BATCHES = 8
BATCH_ROWS = 100
BATCH_COPY_SHARE = 0.05
PROBE_BATCHES = 8
PROBE_ROWS = 20

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
EMB_SCHEMA = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])


def _write(rows, schema, path):
    pq.write_table(pa.Table.from_pydict(rows, schema=schema), path)


def _derive(fixture, rng):
    docs = pq.read_table(os.path.join(fixture, "documents.parquet")).to_pydict()
    emb = pq.read_table(os.path.join(fixture, "embeddings.parquet")).to_pydict()
    vocab = sorted({w for t in docs["text"] for w in WORD.findall(t)})
    rename = dict(zip(vocab, (vocab[i] for i in rng.permutation(len(vocab)))))
    text = [WORD.sub(lambda m: rename[m.group(0)], t) for t in docs["text"]]
    n = len(text)
    ids = rng.permutation(n)
    order = np.argsort(ids)
    d = {
        "doc_id": [int(ids[i]) for i in order],
        "text": [text[i] for i in order],
        "lang": [docs["lang"][i] for i in order],
        "source": [docs["source"][i] for i in order],
        "n_chars": [len(text[i]) for i in order],
    }
    m = np.asarray(emb["embedding"], dtype=np.float64)
    q, r = np.linalg.qr(rng.standard_normal((m.shape[1], m.shape[1])))
    q *= np.sign(np.diag(r))
    rotated = (m @ q).astype(np.float32)
    vids = rng.permutation(len(rotated))
    vorder = np.argsort(vids)
    e = {
        "vec_id": [int(vids[i]) for i in vorder],
        "embedding": [rotated[i].tolist() for i in vorder],
        "label": [int(emb["label"][i]) for i in vorder],
    }
    return d, e, rename


def _stats(d, e, rename):
    texts = d["text"]
    marker = rename.get(NEAR_DUP_MARKER)
    counts = {}
    for t in texts:
        counts[t] = counts.get(t, 0) + 1
    exact = sum(1 for t in texts if counts[t] > 1)
    # a near-duplicate is its source text plus the marker word; both
    # ends of such a pair count, exact copies excluded
    stripped = {}
    for t in texts:
        k = " ".join(w for w in t.split(" ") if w != marker)
        stripped.setdefault(k, set()).add(t)
    near = sum(1 for t in texts
               if len(stripped[" ".join(w for w in t.split(" ") if w != marker)]) > 1)
    m = np.asarray(e["embedding"], dtype=np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    cos = m @ m.T
    np.fill_diagonal(cos, -1.0)
    _, first = np.unique(m, axis=0, return_index=True)
    return {
        "documents_rows": len(texts),
        "embeddings_rows": len(m),
        "doc_exact_dup_share": exact / len(texts),
        "doc_near_dup_share": near / len(texts),
        "vec_exact_dup_share": 1.0 - len(first) / len(m),
        "vec_near_dup_share": float((cos.max(axis=1) >= COSINE_TAU).mean()),
    }


def _serve_batches(out, d, e, rng):
    words = sorted({w for t in d["text"] for w in WORD.findall(t)})
    lengths = [len(t.split(" ")) for t in d["text"]]
    next_doc = max(d["doc_id"]) + 1
    next_vec = max(e["vec_id"]) + 1
    base = np.asarray(e["embedding"], dtype=np.float64)
    dim = base.shape[1]

    def vectors(n):
        pick = rng.integers(0, len(base), n)
        v = base[pick] + rng.standard_normal((n, dim)) * (0.3 / np.sqrt(dim))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return v.astype(np.float32), [int(e["label"][i]) for i in pick]

    for b in range(BATCHES):
        texts = []
        for _ in range(BATCH_ROWS):
            if rng.random() < BATCH_COPY_SHARE:
                texts.append(d["text"][int(rng.integers(0, len(d["text"])))])
            else:
                k = lengths[int(rng.integers(0, len(lengths)))]
                texts.append(" ".join(words[i] for i in rng.integers(0, len(words), k)))
        rows = [int(i) for i in rng.integers(0, len(d["text"]), BATCH_ROWS)]
        _write({"doc_id": list(range(next_doc, next_doc + BATCH_ROWS)),
                "text": texts,
                "lang": [d["lang"][i] for i in rows],
                "source": [d["source"][i] for i in rows],
                "n_chars": [len(t) for t in texts]},
               DOC_SCHEMA, os.path.join(out, f"batch_docs_{b:02d}.parquet"))
        v, labels = vectors(BATCH_ROWS)
        _write({"vec_id": list(range(next_vec, next_vec + BATCH_ROWS)),
                "embedding": [x.tolist() for x in v], "label": labels},
               EMB_SCHEMA, os.path.join(out, f"batch_emb_{b:02d}.parquet"))
        next_doc += BATCH_ROWS
        next_vec += BATCH_ROWS
    for j in range(PROBE_BATCHES):
        v, labels = vectors(PROBE_ROWS)
        _write({"vec_id": list(range(next_vec, next_vec + PROBE_ROWS)),
                "embedding": [x.tolist() for x in v], "label": labels},
               EMB_SCHEMA, os.path.join(out, f"probes_{j:02d}.parquet"))
        next_vec += PROBE_ROWS


# Fixture each workload derives from. dedup-pipeline uses sf0.01: its
# ops are bound by job count at either size (a pass takes ~8 s here
# against ~11 s at sf0.1), and at sf0.01 the DuckDB oracle replays fit
# in a run.
SCALE = {"dedup-pipeline": "sf0.01", "serve-ingest": "sf0.1"}


def inputs(workload, seed, fixtures, cache):
    """The input directory for (workload, seed), generated once; returns
    (directory, stats). The directory name carries a hash of this file
    and of the fixture path, so a changed generator makes new inputs."""
    fixture = os.path.join(fixtures, SCALE[workload])
    h = hashlib.sha256(fixture.encode())
    with open(__file__, "rb") as f:
        h.update(f.read())
    out = os.path.join(cache, "inputs", workload, f"seed-{seed}-{h.hexdigest()[:12]}")
    meta = os.path.join(out, "stats.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return out, json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    d, e, rename = _derive(fixture, rng)
    _write(d, DOC_SCHEMA, os.path.join(tmp, "documents.parquet"))
    _write(e, EMB_SCHEMA, os.path.join(tmp, "embeddings.parquet"))
    if workload == "serve-ingest":
        _serve_batches(tmp, d, e, rng)
    stats = _stats(d, e, rename)
    stats["input_bytes"] = sum(os.path.getsize(os.path.join(tmp, t))
                               for t in ("documents.parquet", "embeddings.parquet"))
    with open(os.path.join(tmp, "stats.json"), "w") as f:
        json.dump(stats, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, stats
