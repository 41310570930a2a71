"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files. Inputs are generated once per seed into a cache
directory, outside every timed metric.

* ``price_paid`` writes an HM Land Registry Price-Paid-shaped CSV and the
  ``postcode,local_authority`` lookup the housing ETL joins against.
* ``tables`` writes the parquet tables the graded queries read, in the
  schemas and value ranges of the repo testdata (FIXTURES.md section 1).
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Price-Paid shape. Counts are stated in BENCHMARK.json's workload text.
PP_ROWS = 40_000
PP_LAS = 330
PP_POSTCODES = 30_000
PP_JUNK_PRICE = 0.01
PP_JUNK_DATE = 0.005
PP_UNMAPPED_POSTCODES = 0.02
PP_FIRST_DAY = np.datetime64("2018-01-01")
PP_DAYS = 2 * 365

# Graded-table shape: sf0.01 fact tables and corpus sizes.
N_ORDERS = 15_000
N_PARTS = 2_000
N_SUPPLIERS = 100
N_CUSTOMERS = 1_500
N_EVENTS = 10_000
N_DOCS = 500
N_VECS = 500
# The testdata's 31 words plus filler tokens: with 300 words, two unrelated
# documents share few tokens, so the similarity joins find the planted
# copies below and not a seed-dependent number of chance matches.
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "line sort window spark order data column join small customer query "
         "big stream group filter vector").split() + [f"t{i:03d}" for i in range(269)]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _atomic_dir(path, write):
    """Run write(tmpdir) and move the result to path, so a killed run never
    leaves a half-written input behind."""
    if os.path.isdir(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write(tmp)
    os.rename(tmp, path)
    return path


def _postcode(rng, n):
    """n distinct UK-style postcodes such as 'KT13 8QZ'."""
    letters = np.array(list("ABCDEFGHJKLMNOPRSTUWYZ"))
    out, seen = [], set()
    while len(out) < n:
        a = letters[rng.integers(0, len(letters), (n, 2))]
        d = rng.integers(1, 99, n)
        s = rng.integers(0, 9, n)
        b = letters[rng.integers(0, len(letters), (n, 2))]
        for i in range(n):
            pc = f"{a[i, 0]}{a[i, 1]}{d[i]} {s[i]}{b[i, 0]}{b[i, 1]}"
            if pc not in seen:
                seen.add(pc)
                out.append(pc)
                if len(out) == n:
                    break
    return np.array(out)


def price_paid(seed, path):
    """Write landing.csv and lookup.csv for one seed under path."""
    def write(d):
        rng = np.random.default_rng([seed, 1])
        las = np.array([f"E{6000000 + i:08d}" for i in range(PP_LAS)])
        # Zipf-skewed authority sizes: postcodes are spread over authorities
        # with weight 1/rank, so the largest LA holds ~200x the smallest.
        w = 1.0 / np.arange(1, PP_LAS + 1)
        pcs = _postcode(rng, PP_POSTCODES)
        pc_la = las[rng.choice(PP_LAS, PP_POSTCODES, p=w / w.sum())]
        mapped = rng.random(PP_POSTCODES) >= PP_UNMAPPED_POSTCODES
        pacsv.write_csv(
            pa.table({"postcode": pcs[mapped], "local_authority": pc_la[mapped]}),
            os.path.join(d, "lookup.csv"))

        n = PP_ROWS
        pc_idx = rng.integers(0, PP_POSTCODES, n)
        price = np.round(np.exp(rng.normal(12.4, 0.55, n)) / 50) * 50
        price_s = price.astype(np.int64).astype(str).astype(object)
        junk_p = rng.random(n) < PP_JUNK_PRICE
        price_s[junk_p] = rng.choice(["", "n/a", "POA"], junk_p.sum())
        days = PP_FIRST_DAY + rng.integers(0, PP_DAYS, n).astype("timedelta64[D]")
        date_s = np.char.add(days.astype(str), " 00:00").astype(object)
        junk_d = rng.random(n) < PP_JUNK_DATE
        date_s[junk_d] = rng.choice(["", "not-a-date", "2019-13-45 00:00"],
                                    junk_d.sum())
        # the fact side spells postcodes loosely; the ETL normalizes both
        pc_s = pcs[pc_idx].astype(object)
        loose = rng.random(n) < 0.1
        pc_s[loose] = np.char.lower(np.char.replace(
            pcs[pc_idx[loose]].astype(str), " ", "")).astype(object)
        ids = rng.integers(0, 2**62, n, dtype=np.int64)
        tid = np.array([f"{{{i:016X}-{j:06d}}}" for j, i in enumerate(ids)])
        ptype = rng.choice(list("DSTFO"), n, p=[0.25, 0.27, 0.28, 0.18, 0.02])
        pacsv.write_csv(pa.table({
            "transaction_unique_identifier": tid,
            "price": pa.array(price_s, pa.string()),
            "date_of_transfer": pa.array(date_s, pa.string()),
            "postcode": pa.array(pc_s, pa.string()),
            "property_type": ptype,
        }), os.path.join(d, "landing.csv"))
    return _atomic_dir(path, write)


def _copy_of(i):
    """The document that document i copies, or None for an original. Each
    copy has an original as its source, so duplicate clusters stay pairs:
    every fifth document copies its predecessor, and every document at
    10 mod 20 copies the one ten before it, which puts 25 pairs inside the
    doc_id % 10 == 0 slice that dedup_groups reads."""
    if i % 5 == 4:
        return i - 1
    if i % 20 == 10:
        return i - 10
    return None


def _documents(rng):
    n = N_DOCS
    vocab = np.array(VOCAB)
    texts, langs = [], []
    for i in range(n):
        src = _copy_of(i)
        if src is None:
            toks = list(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
            lang = LANGS[rng.choice(len(LANGS), p=LANG_P)]
        else:
            toks = texts[src].split()
            rng.shuffle(toks)
            lang = langs[src]
            if (i // 5) % 2:  # near copy: replace about 8% of the tokens
                for p in rng.integers(0, len(toks), max(1, len(toks) // 12)):
                    toks[p] = vocab[rng.integers(0, len(vocab))]
        texts.append(" ".join(toks))
        langs.append(lang)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng):
    v = rng.normal(size=(N_VECS, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, N_VECS * 64 + 1, 64), pa.int32()), flat),
        "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32()),
    })


def _ts(day0, days):
    return pa.array((np.datetime64(day0) + days).astype("datetime64[us]"))


def _orders_lineitem(rng):
    ok = np.arange(N_ORDERS)
    odays = rng.integers(0, 6 * 365 + 212, N_ORDERS).astype("timedelta64[D]")
    orders = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": np.round(rng.uniform(1000, 500000, N_ORDERS), 2),
        "o_orderdate": _ts("1995-01-01", odays),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], N_ORDERS),
    })
    lines = rng.integers(1, 8, N_ORDERS)
    lk = np.repeat(ok, lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n = len(lk)
    qty = rng.integers(1, 51, n).astype(float)
    lineitem = pa.table({
        "l_orderkey": pa.array(lk, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, n), pa.int64()),
        "l_linenumber": ln,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 3000, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _ts("1995-01-02", np.repeat(odays, lines)
                          + rng.integers(1, 120, n).astype("timedelta64[D]")),
    })
    return orders, lineitem


def _events(rng):
    n = N_EVENTS
    us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + us),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n),
        "value": np.round(rng.uniform(0.01, 490.02, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _dims(rng):
    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                       "n_name": [f"NATION{i}" for i in range(25)],
                       "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    customer = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], N_CUSTOMERS),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIERS), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIERS), 2),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(N_PARTS), pa.int64()),
        "p_name": [f"part {i}" for i in range(N_PARTS)],
        "p_brand": [f"Brand#{rng.integers(1, 6)}{rng.integers(1, 6)}"
                    for _ in range(N_PARTS)],
        "p_type": rng.choice(["STANDARD BRUSHED TIN", "SMALL PLATED COPPER",
                              "ECONOMY ANODIZED STEEL", "PROMO POLISHED BRASS"],
                             N_PARTS),
        "p_size": pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2100, N_PARTS), 2),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part}


def tables(seed, path):
    """Write the graded-query parquet tables for one seed under path."""
    def write(d):
        rng = np.random.default_rng([seed, 2])
        orders, lineitem = _orders_lineitem(rng)
        out = dict(_dims(rng), orders=orders, lineitem=lineitem,
                   events=_events(rng), documents=_documents(rng),
                   embeddings=_embeddings(rng))
        for name, t in out.items():
            pq.write_table(t, os.path.join(d, f"{name}.parquet"))
    return _atomic_dir(path, write)
