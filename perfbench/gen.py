"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same arguments
write byte-identical files. The engine only ever sees the files written
here; the expectations each workload is checked against (test-split size,
planted clone pairs, top-75% row count) are computed here too, from the
generator's own token lists, independently of the engine.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _splitmix64(x):
    """Vectorised splitmix64 finaliser over a uint64 array."""
    with np.errstate(over="ignore"):
        z = x + _GOLDEN
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _pseudo_words(n, rng):
    """n distinct lowercase letter-only words built from syllables."""
    cons = list("bcdfghjklmnprstvz")
    vows = list("aeiou")
    syl = [c + v for c in cons for v in vows]
    words, seen = [], set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        w = "".join(syl[i] for i in rng.integers(0, len(syl), k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


POS = ("good great love happy best awesome excellent nice amazing wonderful "
       "like win fun glad superb fantastic brilliant enjoy perfect cool "
       "beautiful sweet thanks yay lovely").split()
NEG = ("bad hate worst sad terrible awful horrible angry poor wrong lose fail "
       "ugly boring broken sucks annoying crap disappointed sick tired cry "
       "miss hurt lame").split()


def _write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)


def sentiment_corpus(out_dir, seed, n_docs, n_files=4):
    """Labelled tweet-like corpus as quoted CSV (doc_id,label,user,text).

    The label is a seeded hash of doc_id, independent of doc_id % 4 (the
    engine's 75/25 split key), so both classes land in both splits. Text
    mixes Zipf-ranked neutral words with polarity words biased toward the
    label, and carries URLs, @mentions, #hashtags, &entities, digits,
    embedded commas and doubled quotes, so each step of the cleaning
    chain has work to do. The vocabulary is the same for every seed; the
    seed draws the documents and labels.
    """
    rng = np.random.default_rng([seed, 11])
    os.makedirs(out_dir, exist_ok=True)
    ids = np.arange(n_docs, dtype=np.uint64)
    labels = (_splitmix64(ids ^ np.uint64(seed * 0x632BE59BD9B4E019 % (1 << 64)))
              >> np.uint64(63)).astype(np.int64)
    neutral = _pseudo_words(3000, np.random.default_rng(11))
    zipf_p = 1.0 / np.arange(1, len(neutral) + 1) ** 1.05
    zipf_p /= zipf_p.sum()
    lens = rng.integers(8, 25, n_docs)
    total = int(lens.sum())
    kind = rng.random(total)
    neu = rng.choice(len(neutral), total, p=zipf_p)
    pos = rng.integers(0, len(POS), total)
    neg = rng.integers(0, len(NEG), total)
    deco = rng.random((n_docs, 7))
    nums = rng.integers(0, 100000, (n_docs, 3))
    per_file = [[] for _ in range(n_files)]
    off = 0
    for i in range(n_docs):
        lab = labels[i]
        toks = []
        for j in range(off, off + lens[i]):
            r = kind[j]
            own_pos = lab == 1
            if r < 0.22:
                toks.append(POS[pos[j]] if own_pos else NEG[neg[j]])
            elif r < 0.30:
                toks.append(NEG[neg[j]] if own_pos else POS[pos[j]])
            else:
                toks.append(neutral[neu[j]])
        off += lens[i]
        d = deco[i]
        if d[0] < 0.5:
            toks.insert(0, "@user%d" % nums[i, 0])
        if d[1] < 0.3:
            toks.append("http://t.co/x%05dQ" % nums[i, 1])
        if d[2] < 0.3:
            toks.insert(len(toks) // 2, "#tag%s" % neutral[nums[i, 2] % 50])
        if d[3] < 0.2:
            toks.insert(1, "&amp;")
        if d[4] < 0.3:
            toks.insert(len(toks) - 1, str(nums[i, 2]))
        if d[5] < 0.4:
            k = 1 + int(nums[i, 0] % (len(toks) - 1))
            toks[k] = toks[k] + ","
        if d[6] < 0.1:
            toks[-1] = '"' + toks[-1] + '"'
        toks[0] = toks[0].capitalize()
        text = " ".join(toks).replace('"', '""')
        per_file[i % n_files].append('%d,%d,"u%d","%s"\n' % (i, lab, nums[i, 0], text))
    for k, rows in enumerate(per_file):
        with open(os.path.join(out_dir, "part-%d.csv" % k), "w") as f:
            f.write("doc_id,label,user,text\n")
            f.writelines(rows)
    expect = {
        "n_docs": n_docs,
        "n_test": int(np.sum(np.arange(n_docs) % 4 == 3)),
        "n_pos": int(labels.sum()),
    }
    _write_json(os.path.join(out_dir, "_expect.json"), expect)
    return expect


def curation_corpus(out_dir, seed, n_docs, clone_rate=0.02, n_files=4):
    """Zipf-text corpus (doc_id, text) as parquet, with exact clones.

    A doc is, with probability clone_rate, an exact copy of the text of
    an earlier non-clone doc. Returns the planted (source, clone) pairs
    and the top-75% row count sum(ceil(0.75 * distinct tokens)) that
    TfIdf.featureSelectTop must produce over the whole corpus. The
    vocabulary is the same for every seed.
    """
    rng = np.random.default_rng([seed, 23])
    os.makedirs(out_dir, exist_ok=True)
    vocab = _pseudo_words(20000, np.random.default_rng(23))
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    p /= p.sum()
    lens = rng.integers(20, 61, n_docs)
    draws = rng.choice(len(vocab), int(lens.sum()), p=p)
    is_clone = rng.random(n_docs) < clone_rate
    is_clone[:100] = False
    punct = rng.random(n_docs)
    src_pick = rng.random(n_docs)
    texts, n_distinct, pairs, originals = [], [], [], []
    off = 0
    for i in range(n_docs):
        if is_clone[i]:
            src = originals[int(src_pick[i] * len(originals))]
            texts.append(texts[src])
            n_distinct.append(n_distinct[src])
            pairs.append([src, i])
        else:
            ids = draws[off:off + lens[i]]
            words = [vocab[w] for w in ids]
            n_distinct.append(len(set(words)))
            if punct[i] < 0.5:
                words[0] = words[0].capitalize()
                words[-1] += "."
            texts.append(" ".join(words))
            originals.append(i)
        off += lens[i]
    doc_ids = np.arange(n_docs, dtype=np.int64)
    for k in range(n_files):
        sel = slice(k, None, n_files)
        t = pa.table({"doc_id": doc_ids[sel], "text": texts[sel]})
        pq.write_table(t, os.path.join(out_dir, "part-%d.parquet" % k))
    n_distinct = np.array(n_distinct, dtype=np.float64)
    expect = {
        "n_docs": n_docs,
        "clone_pairs": pairs,
        "top75_rows": int(np.ceil(n_distinct * 0.75).sum()),
        "curated_rows": int(n_docs - is_clone.sum()),
    }
    _write_json(os.path.join(out_dir, "_expect.json"), expect)
    return expect


DOC_WORDS = ("spark window merge table column vector stream value data small "
             "join filter big group hash customer sort order slow line part "
             "fast row the agg key query a scan batch").split()


def query_tables(out_dir, seed, scale):
    """TPC-H-ish star schema plus documents/embeddings/events, one parquet
    file per table, in the column names and types the engine's registered
    queries read. scale=1.0 gives 5,000 documents and 600,000 lineitems."""
    rng = np.random.default_rng([seed, 37])
    os.makedirs(out_dir, exist_ok=True)

    def n(base):
        return max(10, int(base * scale))

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    def day_ts(start, days, k):
        d = np.datetime64(start, "D") + rng.integers(0, days, k)
        return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))

    n_doc = n(5000)
    lens = rng.integers(8, 100, n_doc)
    w = rng.integers(0, len(DOC_WORDS), int(lens.sum()))
    texts, off = [], 0
    for L in lens:
        texts.append(" ".join(DOC_WORDS[j] for j in w[off:off + L]))
        off += L
    for i in rng.choice(n_doc, max(1, n_doc // 200), replace=False):
        texts[i] = texts[(i + 1) % n_doc] + " dup"
    langs = np.array(["en", "en", "en", "fr", "es", "zh", "de"])
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": ["src%d" % (i % 20) for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    n_emb = n(2000)
    lab = rng.integers(0, 10, n_emb).astype(np.int32)
    cent = rng.normal(0, 1, (10, 64))
    v = cent[lab] * 0.6 + rng.normal(0, 1, (n_emb, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": lab,
    })

    n_cust = n(15000)
    segs = np.array(["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"])
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })

    n_ord = n(150000)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": day_ts("1995-01-01", 2404, n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })

    n_li = n(600000)
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, 20000, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, 1000, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": day_ts("1995-01-02", 2498, n_li),
    })

    n_ev = n(100000)
    us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + us.astype("timedelta64[us]")
    etypes = np.array(["signup", "click", "error", "view", "purchase"])
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n(1500), n_ev).astype(np.int64),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": money(0, 560, n_ev),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)],
    })
    expect = {"n_docs": n_doc, "tables": ["documents", "embeddings", "customer",
                                          "orders", "lineitem", "events"]}
    _write_json(os.path.join(out_dir, "_expect.json"), expect)
    return expect
