"""Seeded input generation for the benchmark.

Everything the engine reads is written here, from the seed alone, before
the engine starts: the batch tables of the query mix, the agents feed and
report dirs of `backfill`, and the staged arrival files of `live`. The same
seed gives byte-identical inputs.
"""
import json
import os
import warnings

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

warnings.filterwarnings("ignore", category=FutureWarning)

BASE_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
HOUR_US = 3600 * 1_000_000
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
WORDS = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())


def _write(df, path, schema=None):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path)


def _events_frame(rng, n, users, hours, id0=0):
    """Agents-feed rows shaped like the sf events table: ids follow time,
    1-byte-class `{"k": N}` payloads, five event types."""
    span = hours * HOUR_US
    ts = BASE_US + np.sort(rng.integers(0, span, n))
    return pd.DataFrame({
        "event_id": np.arange(id0, id0 + n, dtype=np.int64),
        "ts": pd.to_datetime(ts, unit="us"),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.integers(0, 56022, n) / 100.0, 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"),
    })


EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())])


def sf_tables(out, scale, seed):
    """The sf tables the query mix reads, at `scale` times the sf0.1 row
    counts. `lineitem` keys into a part and a supplier range that are not
    written."""
    rng = np.random.default_rng([seed, 1])
    n = lambda k: max(1, int(round(k * scale)))
    _write(pd.DataFrame({"n_nationkey": np.arange(25, dtype=np.int32),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
           f"{out}/nation.parquet")
    nc, ns, np_, no, nl = n(15000), n(1000), n(20000), n(150000), n(600000)
    _write(pd.DataFrame({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.integers(-99999, 1000000, nc) / 100.0, 2),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"])[rng.integers(0, 5, nc)]}),
        f"{out}/customer.parquet")
    day_us = 86400 * 1_000_000
    d0 = 788918400 * 1_000_000  # 1995-01-01
    _write(pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.integers(100191, 49999319, no) / 100.0, 2),
        "o_orderdate": pd.to_datetime(d0 + rng.integers(0, 2405, no) * day_us, unit="us"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, no)]}),
        f"{out}/orders.parquet",
        pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                   ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                   ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())]))
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.integers(90068, 10499992, nl) / 100.0, 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": pd.to_datetime(d0 + rng.integers(1, 2499, nl) * day_us, unit="us")}),
        f"{out}/lineitem.parquet",
        pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                   ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                   ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                   ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                   ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                   ("l_shipdate", pa.timestamp("us"))]))
    _write(_events_frame(rng, n(100000), n(1500), 720), f"{out}/events.parquet",
           EVENTS_SCHEMA)
    nd = n(5000)
    texts = []
    for i in range(nd):
        r = rng.random()
        if i > 0 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 0 and r < 0.052:  # exact duplicate
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(WORDS[rng.integers(0, len(WORDS), rng.integers(10, 101))]))
    _write(pd.DataFrame({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 7, nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out}/documents.parquet")


def _set_mtimes(paths, t0):
    """The file source admits files oldest-mtime first: pin arrival order."""
    for i, p in enumerate(paths):
        os.utime(p, (t0 + i, t0 + i))


def backfill_inputs(out, seed, hours, users, events_per_hour, report_sessions, t0):
    """Hourly agents-feed files with ~1% malformed wire rows, and
    `<session>/<file>` report dirs. Returns the manifest the harness checks
    outputs against."""
    rng = np.random.default_rng([seed, 2])
    n = hours * events_per_hour
    ev = _events_frame(rng, n, users, hours)
    ev["hour"] = (ev["ts"].astype("int64") // 1000 - BASE_US) // HOUR_US
    # malformed rows: one broken wire field each, spread over the hours
    n_bad = max(5, n // 100)
    bad = _events_frame(rng, n_bad, users, hours, id0=10**9)
    bad["hour"] = (bad["ts"].astype("int64") // 1000 - BASE_US) // HOUR_US
    bad = bad.astype({"user_id": "Int64", "event_id": "Int64"}).astype(object)
    for i in range(n_bad):
        col = ["user_id", "event_id", "ts", "event_type", "props"][i % 5]
        bad.at[i, col] = None
    feed = f"{out}/cdc_feed"
    os.makedirs(feed)
    paths = []
    file_rows = {}
    for h in range(hours):
        part = pd.concat([ev[ev.hour == h], bad[bad.hour == h]]).drop(columns="hour")
        p = f"{feed}/h{h:05d}.parquet"
        _write(part, p, EVENTS_SCHEMA)
        paths.append(p)
        file_rows[os.path.basename(p)] = len(part)
    _set_mtimes(paths, t0)

    # report dirs for sessions that exist in the feed
    reports = f"{out}/reports"
    keys = []
    present = np.unique(ev["user_id"].to_numpy())
    for s in rng.choice(present, min(report_sessions, len(present)), replace=False):
        for k in range(int(rng.integers(1, 4))):
            d = f"{reports}/{s}"
            os.makedirs(d, exist_ok=True)
            name = f"report_{k}.txt"
            with open(f"{d}/{name}", "w") as f:
                f.write(f"test report {k} for session {s}: {int(rng.integers(0, 10**6))}\n")
            keys.append(f"{s}:{name}")
    return {"cdc_rows": int(n), "cdc_bad": int(n_bad), "cdc_file_rows": file_rows,
            "report_keys": sorted(keys)}


def _message(rng, k):
    role = "human" if k % 2 == 0 else "ai"
    words = " ".join(WORDS[rng.integers(0, len(WORDS), 30)])
    return {"type": role, "id": f"m{k}", "content": words}


def live_inputs(out, seed, files, rows_per_file, threads, start_msgs, max_msgs,
                period_us):
    """Staged arrival files of LangGraph-style checkpoints in the agents-feed
    shape. Each thread has four task paths (one `__start__`, carried as the
    feed's `signup` event type) and opens with its `__start__` checkpoint in
    the first files; each checkpoint of a (thread, task) holds
    the task's `messages` list, one ~200-byte message longer than the last,
    capped at `max_msgs` (then the oldest message drops)."""
    rng = np.random.default_rng([seed, 3])
    tasks = ["signup", "agent", "tools", "router"]
    msgs = {}
    step = {}
    stage = f"{out}/staged"
    os.makedirs(stage)
    eid = 0
    rows_total = 0
    file_rows = {}
    for f in range(files):
        rows = []
        for r in range(rows_per_file):
            # the first files open every thread with its __start__ checkpoint
            t = eid if eid < threads else int(rng.integers(0, threads))
            task = "signup" if (t, "signup") not in msgs else tasks[int(rng.integers(1, 4))]
            key = (t, task)
            if key not in msgs:
                m0 = int(rng.integers(start_msgs // 2, start_msgs + 1))
                msgs[key] = [_message(rng, k) for k in range(m0)]
                step[key] = m0
            else:
                msgs[key].append(_message(rng, step[key]))
                step[key] += 1
                if len(msgs[key]) > max_msgs:
                    msgs[key].pop(0)
            ts = BASE_US + f * period_us + r * (period_us // (rows_per_file + 1))
            props = json.dumps({"v": 1, "step": step[key],
                                "channel_values": {"messages": msgs[key]}})
            rows.append((eid, ts, t, task, float(step[key]), props))
            eid += 1
        df = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type",
                                         "value", "props"])
        df["ts"] = pd.to_datetime(df["ts"], unit="us")
        _write(df, f"{stage}/f{f:05d}.parquet", EVENTS_SCHEMA)
        file_rows[f"f{f:05d}.parquet"] = len(rows)
        rows_total += len(rows)
    return {"files": files, "rows": rows_total, "file_rows": file_rows}
