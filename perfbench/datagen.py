"""Seeded benchmark inputs, written inside the checkout.

Two families:

- :func:`ensure_tables` — the star schema, ``events``, ``documents`` and
  ``embeddings`` at sf0.1 row counts (lineitem 600,000; smaller for the
  benchmark's own tests), with the value domains of the tables the query
  registry was written against: column names and types, categorical
  values, date ranges, the 30-word document vocabulary with 5%
  ``dup``-suffixed near-duplicates. The tables come from a fixed
  generator seed, so recorded reference values stay valid; they are
  built once per checkout and reused.
- :func:`write_hourly_exports` — the reference's headerless 5-column
  purchase CSVs, one file per hour, time-ordered within and across files,
  with ~1% malformed rows and a known share of exact duplicate rows. The
  content comes from the run's ``--seed``; the function returns the
  counts a correct load must reproduce.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the generated tables change; recorded reference values in
#: ``expected.json`` are tied to this version.
TABLES_VERSION = 1
TABLES_SEED = 42
SF = 0.1

ROWS = {
    "region": 5,
    "nation": 25,
    "supplier": 1_000,
    "customer": 15_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "en", "en", "zh", "es", "fr", "de", "en", "zh", "es", "fr", "de")
ADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "new")
NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _star_and_events(rng, scale: float) -> dict[str, pa.Table]:
    n = {k: v if k in ("region", "nation") else max(10, int(v * scale))
         for k, v in ROWS.items()}
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "s_acctbal": _money(rng, k, -999.99, 9999.99),
    })
    k = n["customer"]
    seg = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    out["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "c_acctbal": _money(rng, k, -999.99, 9999.99),
        "c_mktsegment": seg[rng.integers(0, 5, k)],
    })
    k = n["part"]
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    types = np.array(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"])
    keys = np.arange(k, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": names[rng.integers(0, len(names), k)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
        "p_type": types[rng.integers(0, 6, k)],
        "p_size": rng.integers(1, 51, k).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 2),
    })
    k = n["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, k)],
        "o_totalprice": _money(rng, k, 1000, 500000),
        "o_orderdate": _days(rng, k, "1995-01-01", "2001-08-01"),
        "o_orderpriority": prio[rng.integers(0, 5, k)],
    })
    k = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], k).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], k).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], k).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, k, 900, 105000),
        "l_discount": np.round(rng.uniform(0, 0.1, k), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, k), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, k)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, k)],
        "l_shipdate": _days(rng, k, "1995-01-02", "2001-11-04"),
    })
    k = n["events"]
    # ~26 s apart at full size: the events span January 2024 at any scale.
    gaps = np.maximum(rng.exponential(25.9e6 / scale, k).astype(np.int64), 1)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    etypes = np.array(["signup", "purchase", "view", "click", "error"])
    out["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": start + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, k).astype(np.int64),
        "event_type": etypes[rng.integers(0, 5, k)],
        "value": np.round(rng.exponential(50, k), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
    })
    return out


def _llm_tables(rnd: random.Random) -> dict[str, pa.Table]:
    """Documents and embeddings from Python's ``random`` (its streams are
    stable across interpreter versions, which the recorded reference
    values rely on)."""
    n = ROWS["documents"]
    texts = [
        " ".join(rnd.choice(VOCAB) for _ in range(rnd.randint(10, 100)))
        for _ in range(n)
    ]
    for i in rnd.sample(range(n), n // 20):  # near-duplicates
        texts[i] = texts[rnd.randrange(n)] + " dup"
    for i in rnd.sample(range(n), 8):  # exact duplicates
        texts[i] = texts[rnd.randrange(n)]
    docs = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rnd.choice(LANGS) for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n = ROWS["embeddings"]
    vecs = []
    for _ in range(n):
        v = [rnd.gauss(0.0, 1.0) for _ in range(64)]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
    emb = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([rnd.randrange(10) for _ in range(n)], pa.int32()),
    })
    return {"documents": docs, "embeddings": emb}


def ensure_tables(data_root: str, scale: float = 1.0) -> str:
    """Build the tables under ``data_root`` once; return their dir.

    ``scale`` shrinks the star schema and ``events`` (their references are
    computed from the tables at run time); ``documents`` and
    ``embeddings`` keep their size, since their references are recorded.
    """
    out = os.path.join(data_root, f"sf{SF}-v{TABLES_VERSION}-x{scale:g}")
    if os.path.exists(os.path.join(out, "READY")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = _star_and_events(np.random.default_rng(TABLES_SEED), scale)
    tables.update(_llm_tables(random.Random(TABLES_SEED)))
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "READY"), "w") as fh:
        fh.write(json.dumps({"version": TABLES_VERSION, "scale": scale,
                             "rows": {k: t.num_rows for k, t in tables.items()}}))
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


# -- hourly purchase exports ----------------------------------------------

FIRST = ("ada", "grace", "alan", "edsger", "barbara", "ken", "radia", "donald")
LAST = ("lovelace", "hopper", "turing", "dijkstra", "liskov", "knuth")
DOMAINS = ("example.com", "example.org", "example.net", "mail.test")
HOUR0 = dt.datetime(2021, 3, 21, 0)


def write_hourly_exports(
    out_dir: str, seed: int, n_files: int, rows_per_file: int,
    bad_share: float = 0.01, dup_share: float = 0.02,
) -> dict:
    """Write ``n_files`` hourly CSVs into ``out_dir`` (which must hold only
    them: the streaming source reads every file there) and return the
    counts a correct pipeline reproduces, per file and in total.

    Each file holds ``rows_per_file`` drawn rows, sorted by second of the
    hour. A ``bad_share`` of them is malformed (a non-numeric quantity, a
    3-field line, or an unparseable timestamp, in equal parts); a
    ``dup_share`` of the good ones is written twice in a row.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    emails = [
        f"{FIRST[a]}.{LAST[b]}{c}@{DOMAINS[d]}"
        for a, b, c, d in zip(
            rng.integers(0, len(FIRST), 2_000), rng.integers(0, len(LAST), 2_000),
            rng.integers(0, 1_000, 2_000), rng.integers(0, len(DOMAINS), 2_000),
        )
    ]
    num = [str(i) for i in range(501)]
    files, all_good, buyers = [], set(), set()
    total_good = total_bad = 0
    for f in range(n_files):
        prefix = (HOUR0 + dt.timedelta(hours=f)).strftime("%Y-%m-%dT%H")
        stamp = [f"{prefix}:{s // 60:02d}:{s % 60:02d}" for s in range(3600)]
        n = rows_per_file
        secs = np.sort(rng.integers(0, 3600, n)).tolist()
        who = rng.integers(0, len(emails), n).tolist()
        item = rng.integers(100, 501, n).tolist()
        qty = rng.integers(1, 11, n).tolist()
        price = rng.integers(1, 201, n).tolist()
        fate = rng.random(n).tolist()
        kind = rng.integers(0, 3, n).tolist()
        lines, good, bad, price_sum = [], 0, 0, 0
        for i in range(n):
            email, ts = emails[who[i]], stamp[secs[i]]
            if fate[i] < bad_share:
                k = kind[i]
                lines.append(
                    f"{email},{num[item[i]]},not_a_number,{num[price[i]]},{ts}" if k == 0
                    else f"{email},{num[item[i]]},{num[qty[i]]}" if k == 1
                    else f"{email},{num[item[i]]},{num[qty[i]]},{num[price[i]]},"
                         f"{ts.replace('T', ' at ')}"
                )
                bad += 1
                continue
            line = f"{email},{num[item[i]]},{num[qty[i]]},{num[price[i]]},{ts}"
            copies = 2 if fate[i] < bad_share + dup_share else 1
            lines.extend([line] * copies)
            all_good.add(line)
            buyers.add(email)
            good += copies
            price_sum += copies * price[i]
        path = os.path.join(out_dir, f"{prefix}.csv")
        with open(path + ".tmp", "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.replace(path + ".tmp", path)
        total_good += good
        total_bad += bad
        files.append({
            "path": path,
            "hour": prefix,
            "bytes": os.path.getsize(path),
            "good": good,
            "bad": bad,
            "price_sum": price_sum,
            "buyers_so_far": len(buyers),
        })
    return {
        "files": files,
        "good": total_good,
        "bad": total_bad,
        "distinct_good": len(all_good),
        "rows": total_good + total_bad,
        "bytes": sum(f["bytes"] for f in files),
    }
