"""Seeded input generator for the four workloads, with ground truth.

Every input the engine sees is written here, as parquet files, before the
JVM starts. The same (seed, sizes) always produces byte-identical files and
identical tallies; the engine never sees the seed itself.

Workload inputs:
  ingest  Location batches (the reference Avro schema): Zipf-skewed user_id,
          a share of out-of-order timestamps, a share of null doubles.
  query   the same Location generator for a table with a long history,
          key-set deletes between appends, and a seeded read-only SQL mix.
  upsert  a base table, CDC batches with hot-key-skewed updates plus new
          keys, and key-set deletes every few steps.
  curate  a document corpus plus batches with planted exact and near
          duplicate clusters whose sources are known.
"""

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_MS = 1_700_000_000_000
FEATURES = ["wifi", "gps", "cell", "bt"]

LOCATION_SCHEMA = pa.schema([
    ("accuracy", pa.float64()),
    ("altitude", pa.float64()),
    ("altitudeAccuracy", pa.float64()),
    ("course", pa.float64()),
    ("features", pa.list_(pa.string())),
    ("latitude", pa.float64()),
    ("longitude", pa.float64()),
    ("speed", pa.float64()),
    ("source", pa.string()),
    ("timestamp", pa.int64()),
    ("user_id", pa.string()),
])


def rng_for(seed, stream):
    """Independent generator per (seed, stream name)."""
    digest = hashlib.sha256(f"{seed}|{stream}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(digest[:8], "little")))


def zipf_probs(n, a):
    w = 1.0 / np.arange(1, n + 1) ** a
    return w / w.sum()


def write_parquet(table, path):
    # one row group, no dictionary variance: same rows -> same bytes
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


# ---------------------------------------------------------------- Location

class LocationStream:
    """Location rows in arrival order. Row i carries timestamp
    T0 + 100*i ms, except an out-of-order share that arrives up to ten
    minutes late. Users are Zipf-skewed."""

    def __init__(self, rng, users=200, zipf_a=1.1, ooo_share=0.1, null_share=0.1):
        self.rng = rng
        self.users = np.array([f"u{i:04d}" for i in range(users)])
        self.p = zipf_probs(users, zipf_a)
        self.ooo_share = ooo_share
        self.null_share = null_share
        self.next_row = 0

    def batch(self, rows):
        r = self.rng
        idx = np.arange(self.next_row, self.next_row + rows, dtype=np.int64)
        self.next_row += rows
        ts = T0_MS + 100 * idx
        late = r.random(rows) < self.ooo_share
        ts = np.where(late, ts - 1000 * r.integers(1, 600, rows), ts)
        users = self.users[r.choice(len(self.users), size=rows, p=self.p)]

        def nullable(lo, hi):
            vals = np.round(r.uniform(lo, hi, rows), 3)
            mask = r.random(rows) < self.null_share
            return pa.array(vals, mask=mask, type=pa.float64())

        nfeat = r.integers(0, 3, rows)
        feats = [[FEATURES[(j + k) % 4] for k in range(n)] for j, n in enumerate(nfeat)]
        src = np.where(r.random(rows) < 0.8, "device", "network")
        return pa.table({
            "accuracy": nullable(1, 50),
            "altitude": nullable(-10, 3000),
            "altitudeAccuracy": nullable(1, 30),
            "course": nullable(0, 360),
            "features": pa.array(feats, type=pa.list_(pa.string())),
            "latitude": pa.array(np.round(r.uniform(-90, 90, rows), 6)),
            "longitude": pa.array(np.round(r.uniform(-180, 180, rows), 6)),
            "speed": nullable(0, 40),
            "source": pa.array(src),
            "timestamp": pa.array(ts),
            "user_id": pa.array(users),
        }, schema=LOCATION_SCHEMA)


def location_tally(tables):
    """Ground truth of an append-only Location table: rows, and per user
    (rows, min timestamp, max timestamp)."""
    per = {}
    total = 0
    for t in tables:
        total += t.num_rows
        users = t.column("user_id").to_numpy(zero_copy_only=False)
        ts = t.column("timestamp").to_numpy()
        for u in np.unique(users):
            sel = ts[users == u]
            n, lo, hi = per.get(u, (0, None, None))
            lo = int(sel.min()) if lo is None else min(lo, int(sel.min()))
            hi = int(sel.max()) if hi is None else max(hi, int(sel.max()))
            per[str(u)] = (n + int(sel.size), lo, hi)
    return {"rows": total, "per_user": {u: list(v) for u, v in sorted(per.items())}}


def gen_ingest(seed, out, warm_batches, batches, rows):
    """Batch files b00000.parquet ... in arrival order; the first
    `warm_batches` are drained untimed during warm-up."""
    os.makedirs(out, exist_ok=True)
    stream = LocationStream(rng_for(seed, "ingest"))
    files, tables, nbytes = [], [], 0
    for b in range(warm_batches + batches):
        t = stream.batch(rows)
        path = os.path.join(out, f"b{b:05d}.parquet")
        nbytes += write_parquet(t, path)
        files.append(path)
        tables.append(t)
    return {"files": files, "warm_batches": warm_batches, "rows_per_batch": rows,
            "input_bytes": nbytes, "tally": location_tally(tables)}


# ---------------------------------------------------------------- query

def gen_query(seed, out, history_batches, rows, delete_every, delete_keys, warm_rounds, ops):
    """History: `history_batches` appends, with a key-set DELETE after
    every `delete_every`-th append. Ops: `warm_rounds` rounds of one op of
    every kind (the untimed warm-up), then `ops` ops of the seeded SQL mix;
    each op is {kind, sql, mv_eligible}. `{T}` stands for the table,
    `{SNAP:k}` for the snapshot left by history step k (resolved by the
    harness)."""
    os.makedirs(out, exist_ok=True)
    r = rng_for(seed, "query")
    stream = LocationStream(rng_for(seed, "query-rows"))
    history, nbytes, seen = [], 0, []
    for b in range(history_batches):
        t = stream.batch(rows)
        path = os.path.join(out, f"h{b:05d}.parquet")
        nbytes += write_parquet(t, path)
        history.append({"kind": "append", "file": path})
        seen.append(t.column("timestamp").to_numpy())
        if (b + 1) % delete_every == 0 and b + 1 < history_batches:
            pool = np.unique(np.concatenate(seen))
            keys = sorted(int(k) for k in r.choice(pool, size=delete_keys, replace=False))
            history.append({"kind": "delete", "keys": keys})
    users = stream.users
    span_lo, span_hi = T0_MS - 600_000, T0_MS + 100 * stream.next_row
    kinds = ["point", "range", "mv", "asof", "history"]
    # The mix is an assumption, not a measured trace: an analyst session
    # is mostly lookups of one user and time-window aggregates, then
    # dashboard group-bys an MV can serve and audits of past snapshots,
    # and rarely a look at the commit history. Every kind gets enough
    # ops per run to exercise its module path.
    weights = [0.3, 0.25, 0.2, 0.2, 0.05]
    # the mix's composition is fixed by `ops` (largest remainders), so
    # seeds vary the parameters and the order, never the share of a kind
    quota = [int(w * ops) for w in weights]
    for i in sorted(range(len(kinds)), key=lambda i: int(weights[i] * ops) - weights[i] * ops):
        if sum(quota) < ops:
            quota[i] += 1
    timed = [k for k, q in zip(kinds, quota) for _ in range(q)]
    plan = []
    for kind in kinds * warm_rounds + [timed[i] for i in r.permutation(len(timed))]:
        if kind == "point":
            u = users[r.integers(len(users))]
            sql = (f"SELECT `timestamp` FROM {{T}} WHERE user_id = '{u}' "
                   f"ORDER BY `timestamp` DESC LIMIT 10")
        elif kind == "range":
            width = (span_hi - span_lo) // 20
            a = int(r.integers(span_lo, span_hi - width))
            sql = (f"SELECT user_id, COUNT(*) AS n FROM {{T}} "
                   f"WHERE `timestamp` BETWEEN {a} AND {a + width} GROUP BY user_id")
        elif kind == "mv":
            if r.random() < 0.5:
                sql = ("SELECT user_id, COUNT(*) AS n, MIN(`timestamp`) AS t_min, "
                       "MAX(`timestamp`) AS t_max FROM {T} GROUP BY user_id")
            else:
                sql = "SELECT user_id, COUNT(*) AS n FROM {T} GROUP BY user_id"
        elif kind == "asof":
            k = int(r.integers(len(history)))
            u = users[r.integers(len(users))]
            sql = (f"SELECT COUNT(*) AS n, MAX(`timestamp`) AS mx FROM {{T}} "
                   f"VERSION AS OF {{SNAP:{k}}} WHERE user_id = '{u}'")
        else:
            sql = "SELECT snap, n_added_rows FROM {T}.history ORDER BY snap"
        plan.append({"kind": str(kind), "sql": sql, "mv_eligible": kind == "mv"})
    return {"history": history, "ops": plan, "warm_ops": len(kinds) * warm_rounds,
            "input_bytes": nbytes,
            "rows_per_batch": rows}


# ---------------------------------------------------------------- upsert

UPSERT_SCHEMA = pa.schema([("id", pa.int64()), ("grp", pa.string()),
                           ("uid", pa.int64()), ("amount", pa.int64()),
                           ("ver", pa.int64())])


class AccountModel:
    """Latest-wins-minus-deletes model of the upsert table."""

    def __init__(self):
        self.rows = {}

    def apply_cdc(self, table):
        d = table.to_pydict()
        latest = {}
        for i, k in enumerate(d["id"]):
            if k not in latest or d["ver"][i] > d["ver"][latest[k]]:
                latest[k] = i
        for k, i in latest.items():
            self.rows[k] = (d["grp"][i], d["uid"][i], d["amount"][i], d["ver"][i])

    def delete(self, keys):
        for k in keys:
            self.rows.pop(k, None)

    def mv_answer(self):
        groups = {}
        for grp, uid, _, _ in self.rows.values():
            n, us = groups.get(grp, (0, set()))
            us.add(uid)
            groups[grp] = (n + 1, us)
        return sorted([g, n, len(us)] for g, (n, us) in groups.items())


def gen_upsert(seed, out, base_rows, warm_steps, steps, cdc_rows, new_share,
               delete_every, delete_keys, groups=8, uids=500):
    """Base table plus `warm_steps + steps` CDC steps. Step s stages one
    CDC file; every `delete_every`-th step then deletes a key set. The
    expected MV answer after every step is recorded."""
    os.makedirs(out, exist_ok=True)
    r = rng_for(seed, "upsert")
    uid_p = zipf_probs(uids, 1.05)
    ver = 0

    def rows_for(ids):
        nonlocal ver
        n = len(ids)
        v = np.arange(ver + 1, ver + 1 + n, dtype=np.int64)
        ver += n
        return pa.table({
            "id": pa.array(np.asarray(ids, dtype=np.int64)),
            "grp": pa.array([f"g{g}" for g in r.integers(0, groups, n)]),
            "uid": pa.array(r.choice(uids, size=n, p=uid_p).astype(np.int64)),
            "amount": pa.array(r.integers(0, 10_000, n).astype(np.int64)),
            "ver": pa.array(v),
        }, schema=UPSERT_SCHEMA)

    model = AccountModel()
    base = rows_for(np.arange(base_rows))
    base_path = os.path.join(out, "base.parquet")
    nbytes = write_parquet(base, base_path)
    model.apply_cdc(base)
    next_id = base_rows
    plan = []
    for s in range(warm_steps + steps):
        live = np.array(sorted(model.rows))
        n_new = int(round(cdc_rows * new_share))
        n_upd = cdc_rows - n_new
        # hot keys: Zipf over the live key list, so a few keys change often
        hot = live[np.minimum(r.zipf(1.3, n_upd) - 1, len(live) - 1)]
        ids = np.concatenate([hot, np.arange(next_id, next_id + n_new)])
        next_id += n_new
        r.shuffle(ids)
        t = rows_for(ids)
        path = os.path.join(out, f"c{s:05d}.parquet")
        nbytes += write_parquet(t, path)
        model.apply_cdc(t)
        step = {"file": path, "rows": cdc_rows, "delete": []}
        if (s + 1) % delete_every == 0:
            live = np.array(sorted(model.rows))
            keys = sorted(int(k) for k in r.choice(live, size=delete_keys, replace=False))
            model.delete(keys)
            step["delete"] = keys
        step["expect_mv"] = model.mv_answer()
        plan.append(step)
    final = sorted([k, *v] for k, v in model.rows.items())
    digest = hashlib.sha256(json.dumps(final).encode()).hexdigest()
    return {"base": base_path, "steps": plan, "warm_steps": warm_steps,
            "input_bytes": nbytes, "final_rows": len(final), "final_digest": digest,
            "final": final}


# ---------------------------------------------------------------- curate

CURATE_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def gen_curate(seed, out, corpus_docs, warm_batches, batches, docs_per_batch,
               exact_share, near_share, vocab=4000, words=(60, 100), edits=2):
    """Corpus (indexed in set-up) plus document batches. Each batch plants
    exact copies and near copies (`edits` substituted words) of documents
    from the corpus or from earlier batches; the rest are fresh random
    documents. Ground truth: planted doc id -> (source id, kind)."""
    os.makedirs(out, exist_ok=True)
    r = rng_for(seed, "curate")
    words_v = np.array([f"w{i:04d}" for i in range(vocab)])

    def fresh():
        n = int(r.integers(words[0], words[1]))
        return list(words_v[r.integers(0, vocab, n)])

    originals = {}  # doc id -> word list, only non-planted docs
    next_id = 0
    corpus = []
    for _ in range(corpus_docs):
        originals[next_id] = fresh()
        corpus.append((next_id, " ".join(originals[next_id])))
        next_id += 1

    def table(docs):
        return pa.table({"doc_id": pa.array([d for d, _ in docs], type=pa.int64()),
                         "text": pa.array([t for _, t in docs])}, schema=CURATE_SCHEMA)

    corpus_path = os.path.join(out, "corpus.parquet")
    nbytes = write_parquet(table(corpus), corpus_path)
    planted = {}
    files = []
    n_exact = int(round(docs_per_batch * exact_share))
    n_near = int(round(docs_per_batch * near_share))
    for b in range(warm_batches + batches):
        pool = np.array(sorted(originals))
        docs, pending = [], {}
        for j in range(docs_per_batch):
            if j < n_exact + n_near:
                src = int(pool[r.integers(len(pool))])
                w = list(originals[src])
                kind = "exact"
                if j >= n_exact:
                    kind = "near"
                    for pos in r.choice(len(w), size=edits, replace=False):
                        w[pos] = words_v[r.integers(0, vocab)]
                planted[next_id] = (src, kind)
                docs.append((next_id, " ".join(w)))
            else:
                pending[next_id] = fresh()
                docs.append((next_id, " ".join(pending[next_id])))
            next_id += 1
        order = r.permutation(len(docs))
        docs = [docs[i] for i in order]
        # originals of this batch become sources only for LATER batches:
        # the gate probes the index, which holds earlier batches only
        originals.update(pending)
        path = os.path.join(out, f"d{b:05d}.parquet")
        nbytes += write_parquet(table(docs), path)
        files.append(path)
    return {"corpus": corpus_path, "files": files, "warm_batches": warm_batches,
            "docs_per_batch": docs_per_batch, "input_bytes": nbytes,
            "planted": {str(k): list(v) for k, v in sorted(planted.items())}}
