"""Deterministic input generators: the engine only ever sees these.

Every generator but the fixed feed conditions takes the run's ``--seed``;
the same seed gives the same profiles, post batches, requests and catalog
tables.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

#: post vocabulary, most frequent first (word choice is Zipf-weighted)
VOCAB = (
    "the a data spark stream feed post table query join row key fast slow "
    "batch vector merge window group filter scan sort hash agg index cache "
    "shard log commit snapshot replica tensor token model embed graph rank "
    "label image video"
).split()
PROFILE_WORDS = "engineer developer artist writer researcher student maker".split()
LANGS = (("en", 0.5), ("ja", 0.2), ("de", 0.1), ("es", 0.1), ("fr", 0.1))
N_FEEDS = 24
N_AUTHORS = 150
READERS = ("did:plc:reader1", "did:plc:reader2")
PRIVATE_FEEDS = (3, 13)
PINNED_FEEDS = (0, 9, 18)
BASE_US = 1_717_200_000_000_000  # 2024-06-01T00:00:00Z
TICK_SPAN_US = 3_600_000_000


def rng(seed: int, stream: str) -> random.Random:
    return random.Random(f"{seed}:{stream}")


def _zipf_weights(n: int, s: float = 0.8) -> list[float]:
    return [1.0 / (r + 1) ** s for r in range(n)]


_WORD_W = _zipf_weights(len(VOCAB))


def make_conditions() -> list[dict]:
    """24 feed conditions (as ``FeedCondition`` keyword dicts) that
    together use every predicate kind: include/exclude regex, lang,
    reply, image-only/text-only, label, alt-text and profileMatch.

    The conditions are the service's fixed configuration, the same for
    every seed: which keys reach their retention cap, and so how much a
    tick rewrites, should not change with the seed."""
    r = rng(0, "conditions")
    conds = []
    for i in range(N_FEEDS):
        terms = r.sample(VOCAB[12:], 2 if i % 3 else 1)
        c = {
            "key": f"k{i:02d}",
            "recordName": f"feed-{i:02d}",
            "inputRegex": "|".join(terms),
            "initPost": 5000,
            "limitCount": 250 + 25 * (i % 4),
        }
        leg = i % 8
        if leg == 0:
            c["lang"] = "en"
        elif leg == 1:
            c["invertRegex"] = r.choice(VOCAB[4:10])
        elif leg == 2:
            c["replyDisable"] = True
        elif leg == 3:
            c["imageOnly"] = "imageOnly"
        elif leg == 4:
            c["imageOnly"] = "textOnly"
        elif leg == 5:
            c["labelDisable"] = True
        elif leg == 6:
            c["includeAltText"] = True
        else:
            c["profileMatch"] = f"{terms[0]}::{r.choice(PROFILE_WORDS)}"
        if i in PRIVATE_FEEDS:
            c["privateFeed"] = list(READERS)
        if i in PINNED_FEEDS:
            c["pinnedPost"] = [
                f"at://did:plc:pinned/app.bsky.feed.post/f{i}p{k}"
                for k in range(1 + i % 2)
            ]
        conds.append(c)
    return conds


def make_profiles(seed: int) -> list[tuple[str, str, str]]:
    """(did, displayName, description) per author."""
    r = rng(seed, "profiles")
    out = []
    for a in range(N_AUTHORS):
        desc = " ".join(r.choices(VOCAB, _WORD_W, k=4))
        if r.random() < 0.4:
            desc += " " + r.choice(PROFILE_WORDS)
        out.append((author(a), f"user {a}", desc))
    return out


def author(a: int) -> str:
    return f"did:plc:u{a:03d}"


def _text(r: random.Random, lo: int = 6, hi: int = 14) -> str:
    return " ".join(r.choices(VOCAB, _WORD_W, k=r.randint(lo, hi)))


def _new_post(seed: int, r: random.Random, tick: int, j: int) -> tuple:
    a = min(int(r.paretovariate(1.2)) - 1, N_AUTHORS - 1)
    uri = f"at://{author(a)}/app.bsky.feed.post/s{seed}t{tick}n{j}"
    cid = f"bafy{r.getrandbits(64):016x}"
    us = BASE_US + tick * TICK_SPAN_US + j * 1000 + r.randrange(1000)
    lang = r.choices([code for code, _ in LANGS], [p for _, p in LANGS])[0]
    reply = f"at://{author(r.randrange(N_AUTHORS))}/app.bsky.feed.post/r{j}" if r.random() < 0.2 else None
    y = r.random()
    if y < 0.25:
        images = [(_text(r, 2, 5), (600, 800), "fullsize", "thumb") for _ in range(r.randint(1, 2))]
    elif y < 0.30:
        images = []  # present-but-empty embed: imageOnly keeps, textOnly keeps
    else:
        images = None
    labels = ["spam"] if r.random() < 0.1 else []
    return (uri, cid, author(a), _text(r), [lang], [], reply, reply, images, labels, us, None)


def make_batches(seed: int, sizes: list[int], redeliver: float = 0.3) -> list[list[tuple]]:
    """One list of post rows per tick. From the second tick on, a
    ``redeliver`` share of each batch repeats posts from earlier ticks
    (as search polling does); the rest are new and newer than anything
    before. ``createdAt`` is carried as epoch microseconds (index 10)."""
    r = rng(seed, "posts")
    batches, seen = [], []
    for tick, n in enumerate(sizes):
        n_old = int(n * redeliver) if seen else 0
        old = r.sample(seen, min(n_old, len(seen)))
        new = [_new_post(seed, r, tick, j) for j in range(n - len(old))]
        batch = new + old
        r.shuffle(batch)
        batches.append(batch)
        seen.extend(new)
    return batches


def to_spark_rows(batch: list[tuple]) -> list[tuple]:
    """Post rows with ``createdAt`` as an aware UTC datetime."""
    utc = dt.timezone.utc
    return [
        p[:10] + (dt.datetime.fromtimestamp(p[10] / 1e6, utc),) + p[11:]
        for p in batch
    ]


# -- catalog tables ---------------------------------------------------------

DOC_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def write_catalog_tables(seed: int, out_dir: str, scale: float = 1.0) -> dict[str, int]:
    """Write the ten fixture tables the catalog queries read, shaped like
    the repo's TPC-H-style fixtures, as ``{out_dir}/{table}.parquet``.
    Returns row counts. ``scale`` 1.0 is about a fifth of sf0.01."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = np.random.default_rng(rng(seed, "catalog").getrandbits(63))
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(300 * scale), int(20 * scale), int(400 * scale)
    n_ord, n_ev, n_doc, n_emb = int(3000 * scale), int(2000 * scale), int(300 * scale), int(300 * scale)
    ts = lambda days: pa.array((np.datetime64("1995-01-01") + days).astype("datetime64[us]"))  # noqa: E731
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(g.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": segs[g.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(g.uniform(-999, 9999, n_supp), 2),
    })
    adj = np.array(["small", "red", "blue", "hot", "old", "large", "new"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil"])
    types = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj[g.integers(0, 7, n_part)], noun[g.integers(0, 7, n_part)])],
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
        "p_type": types[g.integers(0, 6, n_part)],
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    odays = g.integers(0, 2403, n_ord)
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["P", "F", "O"])[g.integers(0, 3, n_ord)],
        "o_totalprice": np.round(g.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": ts(odays),
        "o_orderpriority": prios[g.integers(0, 5, n_ord)],
    })
    lines = g.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = g.integers(1, 51, n_li).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(g.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * g.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(g.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(g.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[g.integers(0, 2, n_li)],
        "l_shipdate": ts(np.repeat(odays, lines) + g.integers(1, 121, n_li)),
    })
    ev_us = np.sort(g.integers(0, 30 * 86400 * 10**6, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array((np.datetime64("2024-01-01") + ev_us.astype("timedelta64[us]")).astype("datetime64[us]")),
        "user_id": pa.array(g.integers(0, max(10, n_ev // 60), n_ev), pa.int64()),
        "event_type": np.array(["signup", "error", "click", "view", "purchase"])[g.integers(0, 5, n_ev)],
        "value": np.round(g.exponential(50, n_ev), 2) + 0.01,
        "props": [json.dumps({"k": int(k)}) for k in g.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i > 10 and g.random() < 0.05:
            words = texts[int(g.integers(0, i))].split()
            words[int(g.integers(0, len(words)))] = str(DOC_WORDS[int(g.integers(0, len(DOC_WORDS)))])
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(DOC_WORDS[k] for k in g.integers(0, len(DOC_WORDS), int(g.integers(10, 100)))))
    langs = np.array(["en", "zh", "es", "de", "fr"])[g.choice(5, n_doc, p=[0.44, 0.15, 0.14, 0.14, 0.13])]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = g.integers(0, 10, n_emb)
    centers = g.normal(size=(10, 64))
    vecs = centers[labels] + 0.6 * g.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}

