"""Seeded input generators for the graft benchmark.

Every generator is a pure function of its arguments (numpy PCG64 streams),
so the same seed always yields byte-identical inputs. Generators also
return what they know about their output (token counts, the graph, the
events), which run.py turns into expected results.
"""
import os
import zlib
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The timed dedup documents are fixed (goldens.json holds their
# DuckDB-validated results); --seed varies the dedup warm-up documents and
# the MiniJob and stream inputs.
DEDUP_SEED = 4242

DOC_VOCAB = ("spark window merge table column vector stream value data small "
             "join filter big group hash customer sort order slow line part "
             "fast row the agg key query a scan batch").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# 100 common English words (the FIXTURES.md A1 recipe's vocabulary shape)
EN_VOCAB = ("the be to of and a in that have i it for not on with he as you "
            "do at this but his by from they we say her she or an will my one "
            "all would there their what so up out if about who get which go "
            "me when make can like time no just him know take people into "
            "year your good some could them see other than then now look only "
            "come its over think also back after use two how our work first "
            "well way even new want because any these give day most us").split()
assert len(EN_VOCAB) == 100

US = 1_000_000


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us", tz="UTC"))


def _epoch_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def events_table(rng, n, n_users, t0, span_us, first_id=0):
    """`n` events of the events-table schema in [t0, t0 + span_us).
    Timestamps are UTC-adjusted, so they read as TimestampType, which the
    streaming session window and watermark work on."""
    ts = np.sort(t0 + rng.integers(0, span_us, n))
    return pa.table({
        "event_id": pa.array(first_id + np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0, 500, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents(out, n, seed):
    """Single-spaced lower-case word bags over a 30-word vocabulary; about
    one doc in twenty re-uses an earlier doc's text with one word swapped
    or a ' dup' tail, so the dedup kernels have near-duplicates to find."""
    rng = np.random.Generator(np.random.PCG64(seed))
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].split(" ")
            if rng.random() < 0.5:
                src[int(rng.integers(0, len(src)))] = DOC_VOCAB[int(rng.integers(0, 30))]
            else:
                src.append("dup")
            texts.append(" ".join(src))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(DOC_VOCAB)[rng.integers(0, 30, k)]))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out}/documents.parquet")


# -------------------------------------------------------------- MiniJob inputs
def corpus_shard(path, seed, n_bytes):
    """FIXTURES.md A1: lines of 50-120 chars, ~70% tokens from a 100-word
    vocabulary and ~30% random 3-10 letter strings, first word capitalized,
    ~30% of lines ending in . ! ? and ~20% in a comma. Returns the counts of
    the valid WordCount tokens written (every generated word is valid) and
    the bytes written."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = n_bytes // 4  # more tokens than needed (mean token+space > 5 bytes)
    from_vocab = rng.random(n) < 0.7
    vocab_idx = rng.integers(0, 100, n)
    lens = rng.integers(3, 11, n)
    letters = rng.integers(0, 26, (n, 10), dtype=np.uint8) + np.uint8(ord("a"))
    letters[np.arange(10) >= lens[:, None]] = 0  # NUL tails are dropped below
    rand = letters.view("S10").ravel().astype("U10")
    vocab = np.array(EN_VOCAB)
    words = np.where(from_vocab, vocab[vocab_idx], rand)
    ends = np.cumsum(np.where(from_vocab, np.char.str_len(vocab)[vocab_idx], lens) + 1)
    n_lines = n_bytes // 50 + 1
    targets = rng.integers(50, 121, n_lines)
    tails = rng.random(n_lines)
    out, size, i, line_no = [], 0, 0, 0
    while size < n_bytes:
        # the line takes words until its length (word + space each) reaches the target
        j = int(np.searchsorted(ends, (ends[i - 1] if i else 0) + targets[line_no])) + 1
        line = words[i:j].tolist()
        line[0] = line[0].capitalize()
        r = tails[line_no]
        tail = "." if r < 0.1 else "!" if r < 0.2 else "?" if r < 0.3 else "," if r < 0.5 else ""
        text = " ".join(line) + tail
        out.append(text)
        size += len(text) + 1
        i, line_no = j, line_no + 1
    uniq, cnt = np.unique(words[:i], return_counts=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    return Counter(dict(zip(uniq.tolist(), cnt.tolist()))), size


def adjacency(path, seed, n_nodes, n_edges):
    """Seeded stand-in for the reference's 41,332-node TSV: one line per
    source, `src<TAB>t1 t2 ...`, some sources without out-links. Returns
    (sources, targets-per-source)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_src = int(n_nodes * 0.97)
    srcs = rng.permutation(n_nodes)[:n_src]
    deg = rng.multinomial(n_edges, np.ones(n_src) / n_src)
    adj = {}
    with open(path, "w") as f:
        for s, d in zip(srcs, deg):
            ts = sorted(set(int(t) for t in rng.integers(0, n_nodes, d)) - {int(s)})
            adj[str(s)] = [str(t) for t in ts]
            f.write(f"{s}\t{' '.join(adj[str(s)])}\n" if ts else f"{s}\n")
    return adj


def pagerank_replay(adj, iterations, damping, total):
    """The reference's PageRank semantics (graft.examples.PageRank): every
    source gets (1-d)/N, targets get d*rank(src)/outdeg, an absent
    previous rank defaults to 1.0."""
    ranks = {}
    for _ in range(iterations):
        new = {}
        base = (1.0 - damping) / total
        for s, ts in adj.items():
            new[s] = new.get(s, 0.0) + base
            if ts:
                c = damping * ranks.get(s, 1.0) / len(ts)
                for t in ts:
                    new[t] = new.get(t, 0.0) + c
        ranks = new
    return ranks


# --------------------------------------------------------------- stream inputs
GAP_US = 30 * 60 * US


def stream_chunks(out, seed, n_chunks, per_chunk, n_users):
    """One parquet file per event-hour, in time order, file mtimes ascending
    so a file source with maxFilesPerTrigger=1 reads them in order. Two
    sentinel chunks follow (user -1): the first moves the watermark past
    every real session, the second makes the batch that emits them; the
    sentinel sessions themselves never close. Returns the expected
    (rows, digest) of the closed sessions and the real event count."""
    rng = np.random.Generator(np.random.PCG64(seed))
    t0 = _epoch_us(2024, 3, 1)
    os.makedirs(out, exist_ok=True)
    per_user = {}
    last = t0
    for c in range(n_chunks):
        t = events_table(rng, per_chunk, n_users, t0 + c * 3600 * US, 3600 * US,
                         first_id=c * per_chunk)
        _write(t, f"{out}/chunk_{c:04d}.parquet")
        for u, ts in zip(t.column("user_id").to_pylist(),
                         t.column("ts").cast(pa.int64()).to_pylist()):
            per_user.setdefault(u, []).append(ts)
            last = max(last, ts)
    for j, at in enumerate([last + 4 * 3600 * US, last + 5 * 3600 * US]):
        _write(pa.table({
            "event_id": pa.array([-1 - j], pa.int64()), "ts": _ts([at]),
            "user_id": pa.array([-1], pa.int64()), "event_type": ["view"],
            "value": [0.0], "props": ['{"k": 0}']}),
            f"{out}/chunk_{n_chunks + j:04d}.parquet")
    for i in range(n_chunks + 2):
        p = f"{out}/chunk_{i:04d}.parquet"
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    rows = digest = 0
    for u, tss in per_user.items():
        tss.sort()
        start, end, n = tss[0], tss[0] + GAP_US, 1
        for ts in tss[1:]:
            if ts < end:
                end, n = max(end, ts + GAP_US), n + 1
            else:
                rows, digest = rows + 1, digest + row_crc(u, start, end, n)
                start, end, n = ts, ts + GAP_US, 1
        rows, digest = rows + 1, digest + row_crc(u, start, end, n)
    return {"rows": rows, "digest": digest, "events": n_chunks * per_chunk}


def row_crc(*vals):
    """The harness's row digest: crc32 of the '|'-joined values."""
    return zlib.crc32("|".join(str(v) for v in vals).encode())
