"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed and sizes: the same
arguments give byte-identical output (tests/test_gen.py). The engine
under test only ever receives what these functions produce.

Shares of each input category are module constants so that the
benchmark's description (perfbench/METRICS.md) and the generators
cannot drift apart. They are assumptions, not measurements: no recorded
sample of the recentchange feed or of a real document corpus backs
them. METRICS.md names the metrics each share drives; change a share
only together with a source or a recorded sample that supports it.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

# --- wiki_live: Wikimedia recentchange JSON lines ---------------------------

# Assumed shares of the generated SSE lines (FIXTURES.md section A1 lists
# the categories, not their shares). "type" shares apply to well-formed,
# non-duplicate events.
WIKI_TYPE_SHARES = {"edit": 0.62, "new": 0.12, "log": 0.14, "categorize": 0.12}
WIKI_SHARES = {
    "malformed": 0.02,  # truncated JSON line
    "duplicate_key": 0.05,  # repeats (meta.dt, user, title) of a recent event
    "missing_length": 0.05,  # edit/new event without a length object
    "missing_dt": 0.01,  # meta without dt
    "missing_bot": 0.01,  # no bot field
    "extra_fields": 0.10,  # log_* / parsedcomment fields the transform ignores
}
# Duplicates copy a key from at most this many events back: far inside
# the streaming dedup watermark at every scheduled rate.
DUP_LOOKBACK = 200
WIKI_EPOCH = datetime(2026, 1, 8, 0, 0, 0, tzinfo=timezone.utc)

_WORDS = (
    "key agg row scan slow fast table value part hash merge batch line "
    "sort window data column order join small customer query big filter "
    "stream group spark vector"
).split()
_USERS = [f"User{i}" for i in range(300)] + [f"10.0.{i}.{i * 7 % 256}" for i in range(40)]
_WIKIS = ("enwiki", "dewiki", "frwiki", "commonswiki", "wikidatawiki")


def _title(rng: random.Random) -> str:
    return f"{rng.choice(_WORDS).capitalize()} {rng.choice(_WORDS)} {rng.randrange(60)}"


def _dt(offset_s: float) -> str:
    t = WIKI_EPOCH + timedelta(seconds=int(offset_s))
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def wiki_lines(seed: int, offsets: list[float]) -> list[str]:
    """One recentchange JSON payload per entry of ``offsets`` (seconds
    after the schedule start; it sets ``meta.dt`` and the ``due_ms``
    stamp). Event ``i`` carries ``meta.offset = i``."""
    rng = random.Random(seed)
    recent: list[tuple[str, str, str]] = []  # (dt, user, title) of edit/new
    out: list[str] = []
    type_names = list(WIKI_TYPE_SHARES)
    type_weights = list(WIKI_TYPE_SHARES.values())
    for i, off in enumerate(offsets):
        dt = _dt(off)
        user = rng.choice(_USERS)
        title = _title(rng)
        kind = rng.choices(type_names, type_weights)[0]
        r = rng.random()
        dup = r < WIKI_SHARES["duplicate_key"] and recent
        if dup:
            dt, user, title = recent[rng.randrange(len(recent))]
            kind = "edit"
        wiki = rng.choice(_WIKIS)
        old = rng.randrange(50, 90_000)
        new = max(0, old + rng.randrange(-2_000, 4_000))
        ev: dict = {
            "$schema": "/mediawiki/recentchange/1.0.0",
            "meta": {
                "uri": f"https://{wiki}.example/wiki/{title.replace(' ', '_')}",
                "id": f"{seed:08x}-{i:012x}",
                "dt": dt,
                "stream": "mediawiki.recentchange",
                "offset": i,
                "due_ms": round(off * 1000),
            },
            "id": 1_000_000 + i,
            "type": kind,
            "namespace": 0,
            "title": title,
            "title_url": f"https://{wiki}.example/wiki/{title.replace(' ', '_')}",
            "comment": " ".join(rng.choice(_WORDS) for _ in range(rng.randrange(1, 8))),
            "timestamp": int((WIKI_EPOCH + timedelta(seconds=int(off))).timestamp()),
            "user": user,
            "bot": rng.random() < 0.15,
            "server_name": f"{wiki}.example",
            "wiki": wiki,
        }
        if kind in ("edit", "new"):
            ev["minor"] = rng.random() < 0.3
            ev["length"] = {"new": new} if kind == "new" else {"old": old, "new": new}
            ev["revision"] = {"new": 5_000_000 + i} if kind == "new" else {
                "old": 4_000_000 + i, "new": 5_000_000 + i}
        q = rng.random()
        if kind in ("edit", "new") and q < WIKI_SHARES["missing_length"]:
            del ev["length"]
        q = rng.random()
        if q < WIKI_SHARES["missing_dt"]:
            del ev["meta"]["dt"]
        elif q < WIKI_SHARES["missing_dt"] + WIKI_SHARES["missing_bot"]:
            del ev["bot"]
        if rng.random() < WIKI_SHARES["extra_fields"]:
            ev["log_type"] = rng.choice(("block", "move", "upload"))
            ev["log_params"] = {"target": title, "noredir": rng.random() < 0.5}
            ev["parsedcomment"] = f"<span>{ev['comment']}</span>"
        line = json.dumps(ev, ensure_ascii=False)
        if rng.random() < WIKI_SHARES["malformed"]:
            line = line[: len(line) // 2]  # unbalanced braces: never valid JSON
        elif kind in ("edit", "new") and "dt" in ev["meta"] and not dup:
            recent.append((dt, user, title))
            if len(recent) > DUP_LOOKBACK:
                recent.pop(0)
        out.append(line)
    return out


def schedule_offsets(steps: list[tuple[float, float]]) -> tuple[list[float], list[int]]:
    """Due offsets (s) of an open-loop schedule of (rate ev/s, duration s)
    steps with evenly spaced sends, and each step's first event index."""
    offsets: list[float] = []
    starts: list[int] = []
    t0 = 0.0
    for rate, dur in steps:
        starts.append(len(offsets))
        n = int(round(rate * dur))
        offsets.extend(t0 + k / rate for k in range(n))
        t0 += dur
    return offsets, starts


# --- curate_replay: documents plus seeded near-duplicate copies -------------

NEAR_DUP_SHARE = 0.30  # assumed share of documents that get one near-dup copy
# tools/make_tier.py's copy suffix (copy index k = 1)
NEAR_DUP_SUFFIX = " mut1a mut1b mut1c"
DOC_LANGS = {"en": 0.5, "de": 0.125, "es": 0.125, "fr": 0.125, "zh": 0.125}
DOC_SOURCES = 20


def documents(seed: int, n: int) -> pd.DataFrame:
    """``n`` documents in the TESTDATA.md ``documents`` schema: random word
    sequences over a small vocabulary (so quality and near-dup signals
    fire), a weighted language and one of 20 sources."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(20, 81, n)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    langs = rng.choice(list(DOC_LANGS), n, p=list(DOC_LANGS.values()))
    sources = [f"src{s}" for s in rng.integers(0, DOC_SOURCES, n)]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs.astype(object),
        "source": sources,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def with_near_dups(docs: pd.DataFrame, seed: int) -> pd.DataFrame:
    """``docs`` plus one suffix-mutated copy of a seeded NEAR_DUP_SHARE
    of them, rows in a seeded order with doc_id = row number. A replay
    in doc_id order therefore carries the copies spread through every
    micro-batch, each before or after its original."""
    rng = np.random.default_rng(seed + 1)
    pick = np.sort(rng.choice(len(docs), int(round(NEAR_DUP_SHARE * len(docs))), replace=False))
    copies = docs.iloc[pick].copy()
    copies["text"] = copies["text"] + NEAR_DUP_SUFFIX
    copies["n_chars"] = copies["text"].str.len().astype(np.int64)
    out = pd.concat([docs, copies], ignore_index=True)
    out = out.iloc[rng.permutation(len(out))].reset_index(drop=True)
    out["doc_id"] = np.arange(len(out), dtype=np.int64)
    return out


# --- query_suite: the ten TESTDATA.md tables --------------------------------

QUERY_TABLE_SCALE = 1  # x the sf0.001 row counts


def _ts(rng, n: int, start: str, days: int, micros: bool) -> np.ndarray:
    base = np.datetime64(start, "us")
    if micros:
        steps = rng.integers(0, days * 86_400_000_000, n)
    else:
        steps = rng.integers(0, days, n) * 86_400_000_000
    return (base + steps.astype("timedelta64[us]")).astype("datetime64[us]")


def query_tables(seed: int) -> dict[str, pd.DataFrame]:
    """The ten TESTDATA.md tables, in their schemas, at QUERY_TABLE_SCALE
    x the sf0.001 row counts."""
    m = QUERY_TABLE_SCALE
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord = 150 * m, 10 * m, 200 * m, 1500 * m
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)].astype(object),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    colors = np.array(["small", "red", "blue", "green", "large", "steel"])
    nouns = np.array(["ring", "widget", "bolt", "gear", "pipe"])
    types = np.array(["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"])
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{c} {w}" for c, w in zip(
            colors[rng.integers(0, 6, n_part)], nouns[rng.integers(0, 5, n_part)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)].astype(object),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2),
    })
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)].astype(object),
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, n_ord), 2),
        "o_orderdate": _ts(rng, n_ord, "1992-01-01", 2_900, micros=False),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)].astype(object),
    })
    per = rng.integers(1, 8, n_ord)
    n_li = int(per.sum())
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), per),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 3_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)].astype(object),
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)].astype(object),
        "l_shipdate": _ts(rng, n_li, "1992-01-01", 3_200, micros=False),
    })
    n_ev = 1000 * m
    ev_ts = np.sort(_ts(rng, n_ev, "2024-01-01", 30, micros=True))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_ev)].astype(object),
        "value": np.round(rng.uniform(0, 50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = documents(seed + 7, 500 * m)
    n_emb = 500 * m
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": [v.astype(np.float32) for v in vecs],
        "label": labels,
    })
    return t


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table, the layout tables.py reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
