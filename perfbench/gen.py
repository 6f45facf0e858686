"""Seeded input generator for the benchmark.

Everything the JVM reads is rendered here from the run's seed, inside the
run's work directory: the parquet tables the report and operator queries
scan (the schemas of the engine's test corpus), and the listens-shaped
NDJSON (FIXTURES.md section 1) the ETL workload ingests, with the counts
its output checks expect in `plan.json`.
"""
import hashlib
import json
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
JAN_2024 = 1704067200  # 2024-01-01T00:00:00Z
DAYS = 30


def _uuid(tag):
    return str(uuid.UUID(bytes=hashlib.md5(tag.encode()).digest()))


# ---------------------------------------------------------------- tables

def events(rng, n, users):
    """events(event_id, ts, user_id, event_type, value, props) with
    timestamps spread over January 2024; (user_id, second) keys are unique,
    so every dedup loss is an injected one."""
    secs = np.sort(rng.integers(0, DAYS * 86400, n))
    micros = rng.integers(0, 1_000_000, n)
    user = rng.integers(0, users, n)
    key = user.astype(np.int64) * (DAYS * 86400) + secs
    _, first = np.unique(key, return_index=True)
    keep = np.sort(first)
    secs, micros, user = secs[keep], micros[keep], user[keep]
    m = len(keep)
    ts = (JAN_2024 + secs) * 1_000_000 + micros
    etype = rng.integers(0, len(EVENT_TYPES), m)
    value = np.round(rng.uniform(0, 200, m), 2)
    k = rng.integers(0, 100, m)
    return pa.table({
        "event_id": pa.array(np.arange(m, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in etype]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {int(x)}}}' for x in k]),
    })


def documents(rng, n):
    """documents(doc_id, text, lang, source, n_chars): word salad over the
    corpus vocabulary, with near-duplicates (a copy with a few words
    replaced, tagged `dup`) and exact duplicates so the dedup operators
    have real candidate pairs."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.06:
            src = texts[rng.integers(0, i)].split()
            for _ in range(rng.integers(1, 4)):
                src[rng.integers(0, len(src))] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(src + ["dup"]))
        elif i > 10 and r < 0.07:
            texts.append(texts[rng.integers(0, i)])
        else:
            words = rng.integers(0, len(WORDS), rng.integers(10, 101))
            texts.append(" ".join(WORDS[w] for w in words))
    lang = rng.choice(len(LANGS), n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in lang]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _days(rng, lo, hi, n):
    base = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - base).astype(int)
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[ms]")


def star(rng, orders_n, parts_n, custs_n, supps_n):
    """The TPC-H-shaped tables: region, nation, customer, supplier, part,
    orders, lineitem (about four lines per order)."""
    li_n = orders_n * 4
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(custs_n, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(custs_n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, custs_n).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, custs_n), 2)),
            "c_mktsegment": pa.array(rng.choice(
                ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], custs_n))}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(supps_n, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(supps_n)]),
            "s_nationkey": pa.array(rng.integers(0, 25, supps_n).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, supps_n), 2))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(parts_n, dtype=np.int64)),
            "p_name": pa.array([
                f"{a} {b}" for a, b in zip(
                    rng.choice(["small", "red", "blue", "green", "large", "steel"], parts_n),
                    rng.choice(["ring", "widget", "bolt", "gear", "valve", "spring"], parts_n))]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, parts_n)]),
            "p_type": pa.array(rng.choice(
                ["ECONOMY", "SMALL", "STANDARD", "MEDIUM", "LARGE", "PROMO"], parts_n)),
            "p_size": pa.array(rng.integers(1, 51, parts_n).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(parts_n) % 1000) / 10, 2))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(orders_n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, custs_n, orders_n).astype(np.int64)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], orders_n)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, orders_n), 2)),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", orders_n)),
            "o_orderpriority": pa.array(rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], orders_n))}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, orders_n, li_n).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, parts_n, li_n).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, supps_n, li_n).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, li_n).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, li_n).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, li_n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, li_n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, li_n) / 100.0),
            "l_returnflag": pa.array(rng.choice(["R", "A", "N"], li_n)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], li_n)),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", li_n))}),
    }
    return out


def write_tables(seed, out_dir, spec):
    """Render the parquet tables named in `spec` (a dict of sizes)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    if "events" in spec:
        pq.write_table(events(rng, spec["events"], spec["users"]), f"{out_dir}/events.parquet")
    if "documents" in spec:
        pq.write_table(documents(rng, spec["documents"]), f"{out_dir}/documents.parquet")
    if "orders" in spec:
        for name, t in star(rng, spec["orders"], spec["parts"],
                            spec["customers"], spec["suppliers"]).items():
            pq.write_table(t, f"{out_dir}/{name}.parquet")


# --------------------------------------------------------------- listens

def _listen(user, listened_at, track):
    rec = _uuid(f"rec-{track}")
    return json.dumps({
        "listened_at": int(listened_at),
        "recording_msid": rec,
        "user_name": f"user_{user:04d}",
        "track_metadata": {
            "artist_name": f"Artist {track % 37}",
            "track_name": f"Track {track}",
            "release_name": f"Release {track % 91}",
            "additional_info": {
                "release_msid": _uuid(f"rel-{track % 91}"),
                "artist_msid": _uuid(f"art-{track % 37}"),
                "recording_msid": rec,
                "release_mbid": None,
                "recording_mbid": _uuid(f"mbid-{track}"),
                "release_group_mbid": None,
                "track_mbid": None,
                "isrc": None,
                "spotify_id": f"https://open.spotify.com/track/{track:022d}",
                "tracknumber": str(track % 12 + 1),
                "artist_mbids": [_uuid(f"artmb-{track % 37}")],
                "tags": [],
                "work_mbids": [],
            },
        },
    }, separators=(",", ":"))


def _corrupt(rng, lines, k):
    """`k` truncated copies of random lines: each parses as a corrupt row."""
    return [ln[: rng.integers(10, len(ln) - 5)]
            for ln in (lines[i] for i in rng.choice(len(lines), k, replace=False))]


def _write_lines(path, lines):
    body = "".join(ln + "\n" for ln in lines)
    with open(path, "w") as fh:
        fh.write(body)
    return len(body)


def day_corpus(seed, out_dir, listens, users, files, dups, corrupt,
               ticks, tick_files, tick_rows, tick_users, tick_corrupt):
    """One day of listens for the `etl` workload, staged under `stage/`.

    The backfill is `files` NDJSON files over `users` users, with `dups`
    injected double scrobbles (same user and second, another track) and
    `corrupt` truncated lines. Then `ticks` incremental batches land, each
    `tick_files` small files of `tick_rows` listens for `tick_users` users
    (plus `tick_corrupt` truncated lines per file); odd batches also land a
    renamed byte-identical copy of an earlier tick file, even ones re-land
    an earlier tick file under its own name. Apart from the injected
    duplicates every (user, second) key is unique across the day, so the
    expected counts in `plan.json` are exact."""
    rng = np.random.default_rng(seed)
    stage = f"{out_dir}/stage"
    os.makedirs(stage, exist_ok=True)
    ev = events(rng, listens + ticks * tick_files * tick_rows, users)
    user = ev.column("user_id").to_numpy()
    secs = ev.column("ts").cast(pa.int64()).to_numpy() // 1_000_000
    track = rng.integers(0, 5, len(user)) * 100 + rng.integers(0, 100, len(user))
    line = lambda i: _listen(user[i], secs[i], track[i])
    pool = {u: list(rng.permutation(np.flatnonzero(user == u))) for u in np.unique(user)}

    plan = {"ticks": []}
    staged = []
    for b in range(ticks):
        acts = []
        for f in range(tick_files):
            who = rng.choice([u for u in sorted(pool) if len(pool[u]) > tick_rows],
                             tick_users, replace=False)
            rows = [pool[who[i % tick_users]].pop() for i in range(tick_rows)]
            lines = [line(i) for i in rows]
            lines += _corrupt(rng, lines, tick_corrupt)
            name = f"tick-{b:02d}-{f:02d}.json"
            nbytes = _write_lines(f"{stage}/{name}", lines)
            staged.append(dict(name=name, src=name, raw=len(lines),
                               valid=tick_rows, bytes=nbytes))
            acts.append(dict(staged[-1], op="new"))
        earlier = staged[:-tick_files]
        if earlier and b % 2 == 1:
            src = earlier[rng.integers(0, len(earlier))]
            acts.append(dict(src, op="copy", name=f"copy-{b:02d}.json"))
        elif earlier:
            src = earlier[rng.integers(0, len(earlier))]
            acts.append(dict(src, op="reland"))
        plan["ticks"].append(acts)

    rest = [i for rows in pool.values() for i in rows]
    lines = [line(i) for i in rest]
    for i in rng.choice(rest, dups, replace=False):
        lines.append(_listen(user[i], secs[i], (track[i] + 1 + rng.integers(0, 400)) % 500))
    lines += _corrupt(rng, lines, corrupt)
    lines = [lines[i] for i in rng.permutation(len(lines))]
    names, nbytes = [], 0
    for f, chunk in enumerate(np.array_split(np.arange(len(lines)), files)):
        names.append(f"listens-{f:02d}.json")
        nbytes += _write_lines(f"{stage}/{names[-1]}", [lines[i] for i in chunk])
    plan["backfill"] = dict(files=names, raw=len(lines), corrupt=corrupt,
                            valid=len(rest) + dups, dups=dups, bytes=nbytes)
    plan["users"] = int(len(np.unique(user)))
    with open(f"{out_dir}/plan.json", "w") as fh:
        json.dump(plan, fh)
    return plan
