"""Seeded input generator for the benchmark.

Everything here is a pure function of (seed, size): the same arguments give
byte-identical parquet files. The program never sees this module, only the
files it writes.

- `fixture_tables` writes the ten registry tables (the TPC-H-style star
  schema plus `events`, `documents` and `embeddings`) with the column
  names, types and value domains the registry queries expect.
- `delta_snapshots` writes the three snapshots of the `delta_curate`
  workload (empty, base, increment) and returns the generator's own
  expected diff counts.
- `monthly_records` writes the flat records of the `monthly_batch` master
  dataset and its JSON-lines snapshots; `MonthlyGen.scala` turns the flat
  records into the nested Avro snapshots.
- `documents` is the shared text generator behind all of them.
"""
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]


def rng(seed, stream):
    """One independent numpy generator per (seed, stream name)."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def write(table, path):
    # fixed writer settings, no pandas metadata: byte-identical per seed
    pq.write_table(table, path, compression="snappy", store_schema=False,
                   write_statistics=True)


def documents(seed, n):
    """`n` short documents over the fixture's 30-word vocabulary; 5% are a
    copy of an earlier document with a trailing " dup" (planted near-dups).
    Returns (doc_id, text, lang, source) columns as Python lists."""
    r = rng(seed, f"documents:{n}")
    lengths = r.integers(10, 100, size=n)
    words = r.integers(0, len(VOCAB), size=int(lengths.sum()))
    langs = r.choice(len(LANGS), size=n, p=LANG_P)
    dup = r.random(n) < 0.05
    src_of = r.integers(0, max(1, n), size=n)
    texts, pos = [], 0
    for i in range(n):
        if dup[i] and i > 10:
            texts.append(texts[src_of[i] % i] + " dup")
        else:
            texts.append(" ".join(VOCAB[w] for w in words[pos:pos + lengths[i]]))
        pos += lengths[i]
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [LANGS[k] for k in langs],
        "source": [f"src{i % 20}" for i in range(n)],
    }


def _docs_table(d):
    return pa.table({
        "doc_id": pa.array(d["doc_id"], pa.int64()),
        "text": pa.array(d["text"], pa.string()),
        "lang": pa.array(d["lang"], pa.string()),
        "source": pa.array(d["source"], pa.string()),
        "n_chars": pa.array([len(t) for t in d["text"]], pa.int64()),
    })


def _ts(base, seconds):
    return pa.array([base + dt.timedelta(seconds=float(s)) for s in seconds],
                    pa.timestamp("us"))


def fixture_tables(seed, sf, out):
    """The ten registry tables at scale factor `sf` (sf0.01 = 60,000
    lineitem rows), written as `<out>/<name>.parquet`."""
    n_cust, n_part, n_supp = int(150000 * sf), int(200000 * sf), int(10000 * sf)
    n_ord, n_li = int(1500000 * sf), int(6000000 * sf)
    n_doc, n_vec, n_ev = int(50000 * sf), int(50000 * sf), int(1000000 * sf)

    write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")

    r = rng(seed, "customer")
    write(pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust),
    }), f"{out}/customer.parquet")

    r = rng(seed, "supplier")
    write(pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    }), f"{out}/supplier.parquet")

    r = rng(seed, "part")
    adj = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
    write(pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
    }), f"{out}/part.parquet")

    r = rng(seed, "orders")
    day0 = dt.datetime(1995, 1, 1)
    write(pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(r.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(day0, r.integers(0, 2400, n_ord) * 86400),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }), f"{out}/orders.parquet")

    r = rng(seed, "lineitem")
    qty = r.integers(1, 51, n_li).astype(float)
    write(pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(r.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": r.choice(["A", "N", "R"], n_li),
        "l_linestatus": r.choice(["F", "O"], n_li),
        "l_shipdate": _ts(day0, r.integers(1, 2500, n_li) * 86400),
    }), f"{out}/lineitem.parquet")

    r = rng(seed, "events")
    write(pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1),
                  np.sort(r.uniform(0, 30 * 86400, n_ev))),
        "user_id": pa.array(r.integers(0, max(1, n_ev // 66), n_ev), pa.int64()),
        "event_type": r.choice(["click", "error", "purchase", "signup",
                                "view"], n_ev),
        "value": np.round(r.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    }), f"{out}/events.parquet")

    write(_docs_table(documents(seed, n_doc)), f"{out}/documents.parquet")

    # unit vectors weakly clustered by label (same-label cosine ~0.02,
    # cross-label ~0, as in the reference fixture)
    r = rng(seed, "embeddings")
    labels = r.integers(0, 10, n_vec)
    centers = r.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    noise = r.normal(size=(n_vec, 64))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    vecs = 0.15 * centers[labels] + noise
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(pa.table({
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), f"{out}/embeddings.parquet")


def delta_snapshots(seed, base_docs, copies, planted, out):
    """Three snapshots for `delta_curate` (ScaleRehearsal's delta recipe):

    - `empty`: the bootstrap's previous snapshot (zero rows),
    - `base`: `base_docs` documents x `copies` salted copies,
    - `next`: base + 10% new documents, ~1% cosmetic edits, ~1% removals,
      plus one indexed English document re-submitted `planted` times under
      new ids, each with a cosmetic edit (one near-duplicate class).

    Which ids are edited, removed or planted is drawn from the seed.
    Returns the diff counts the program must report for the increment.
    """
    d = documents(seed, base_docs)
    ids, texts, langs, srcs = [], [], [], []
    for k in range(copies):
        for i in range(base_docs):
            ids.append(k * 10_000_000 + d["doc_id"][i])
            texts.append(f"{d['text'][i]} copysalt{k}")
            langs.append(d["lang"][i])
            srcs.append(d["source"][i])
    base = {"doc_id": ids, "text": texts, "lang": langs, "source": srcs}
    n = len(ids)

    r = rng(seed, "delta")
    order = r.permutation(n)
    n_edit, n_drop = n // 100, n // 100
    edit, drop = set(order[:n_edit].tolist()), set(order[n_edit:n_edit + n_drop].tolist())
    nxt = {"doc_id": [], "text": [], "lang": [], "source": []}
    for j in range(n):
        if j in drop:
            continue
        t = base["text"][j] + (" editv2" if j in edit else "")
        for c, v in (("doc_id", base["doc_id"][j]), ("text", t),
                     ("lang", base["lang"][j]), ("source", base["source"][j])):
            nxt[c].append(v)
    fresh = documents(seed + 7_919, n // 10)
    for i in range(len(fresh["doc_id"])):
        nxt["doc_id"].append(900_000_000 + i)
        for c in ("text", "lang", "source"):
            nxt[c].append(fresh[c][i])
    # the planted class: an English, gate-passing base document that is
    # neither edited nor removed, re-submitted with one extra token each
    cands = [j for j in order[n_edit + n_drop:].tolist()
             if base["lang"][j] == "en" and len(base["text"][j].split()) >= 60]
    hot = cands[0]
    for i in range(planted):
        nxt["doc_id"].append(950_000_000 + i)
        nxt["text"].append(f"{base['text'][hot]} resubmit{i}")
        nxt["lang"].append("en")
        nxt["source"].append(base["source"][hot])

    write(_docs_table(base).slice(0, 0), f"{out}/empty.parquet")
    write(_docs_table(base), f"{out}/base.parquet")
    write(_docs_table(nxt), f"{out}/next.parquet")
    return {"base_rows": n, "next_rows": len(nxt["doc_id"]),
            "added": len(fresh["doc_id"]) + planted, "changed": n_edit,
            "removed": n_drop, "planted_from": base["doc_id"][hot]}


SNAPSHOT = "20260801_000000"


def monthly_records(seed, base_docs, copies, providers, out):
    """The `monthly_batch` records: `base_docs` documents x `copies` salted
    copies. The seed draws each record's item id (an md5, as DPLA ids are)
    and, through it, its provider hub. Writes `records.parquet` (flat) and
    each hub's JSON-lines snapshot `master/<hub>/jsonl/<snapshot>/`."""
    d = documents(seed, base_docs)
    cols = {"d": [], "item": [], "hub": [], "text": [], "lang": [], "source": []}
    for k in range(copies):
        for i in range(base_docs):
            item = hashlib.md5(f"{seed}:{k}:{i}".encode()).hexdigest()
            hub = int(hashlib.md5(f"{seed}/{item}".encode()).hexdigest()[:8], 16) % providers
            for c, v in (("d", i * copies + k), ("item", item), ("hub", f"hub{hub}"),
                         ("text", f"{d['text'][i]} copysalt{k}"),
                         ("lang", d["lang"][i]), ("source", d["source"][i])):
                cols[c].append(v)
    write(pa.table({**cols, "d": pa.array(cols["d"], pa.int64())}),
          f"{out}/records.parquet")
    lines = {}
    for j in range(len(cols["d"])):
        rec = {c: cols[c][j] for c in ("item", "hub", "text", "lang", "source")}
        lines.setdefault(cols["hub"][j], []).append(json.dumps(rec, sort_keys=True))
    for hub, ls in sorted(lines.items()):
        snap = f"{out}/master/{hub}/jsonl/{SNAPSHOT}"
        os.makedirs(snap)
        with open(f"{snap}/part-00000.jsonl", "w") as f:
            f.write("\n".join(ls) + "\n")
