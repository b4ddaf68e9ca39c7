"""Seeded input generator for the benchmark — no downloads, no fixture reads.

Two seeds are in play:

* ``CONTENT_SEED`` fixes the *content* of the TPC-H-ish star schema, the
  ``events`` stream table, ``documents`` and ``embeddings``. The shapes and
  value ranges follow the engine's test fixtures (TESTDATA.md), so every
  query sees the same kind of data it is tested on.
* ``--seed`` fixes what varies between runs: the row order and the file
  split of each table, the suffix tokens of the replica overlay
  (``curation``), and which webhook lands in which stream file. None of
  these changes a query's answer, except the text digest in
  ``par1_paragraph_dedup``'s output.

Everything is written under the benchmark's own data directory, one
sub-directory per (workload, seed), with a ``_DONE`` marker so a seed is
generated once per checkout.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
# functions.text.STOPWORDS: the overlay leaves these tokens untouched so the
# quality gate's stopword ratio is identical in every replica
STOPWORDS = frozenset(("the", "a", "an", "of", "and", "to", "in", "is", "it", "that"))

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in epoch micros
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01 in epoch micros


def _ids(n: int) -> np.ndarray:
    return np.arange(n, dtype=np.int64)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The relational + events tables at scale factor ``sf`` (sf0.1 is
    600k lineitems), fixed by ``CONTENT_SEED``."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_lines = int(6_000_000 * sf)
    n_events = int(1_000_000 * sf)
    n_users = int(15_000 * sf)

    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    segments = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
    customer = pa.table(
        {
            "c_custkey": _ids(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": _ids(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    colors = np.array(["large", "hot", "blue", "red", "green", "small", "dark", "pale"])
    nouns = np.array(["ring", "bolt", "nut", "pipe", "gear", "valve", "screw", "spring"])
    ptypes = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    pk = _ids(n_part)
    part = pa.table(
        {
            "p_partkey": pk,
            "p_name": np.char.add(
                np.char.add(colors[rng.integers(0, 8, n_part)], " "),
                nouns[rng.integers(0, 8, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": ptypes[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    span_days = 2404  # 1995-01-01 .. 2001-08-01
    orders = pa.table(
        {
            "o_orderkey": _ids(n_orders),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
            "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, span_days, n_orders) * DAY_US),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_orders)],
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n_lines),
            "l_partkey": rng.integers(0, n_part, n_lines),
            "l_suppkey": rng.integers(0, n_supp, n_lines),
            "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_lines),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_lines)],
            "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, n_lines) * DAY_US),
        }
    )
    ev_ts = np.sort(rng.integers(0, 30 * DAY_US, n_events)) + EPOCH_2024
    events = pa.table(
        {
            "event_id": _ids(n_events),
            "ts": _ts(ev_ts),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": np.array(["signup", "click", "error", "view", "purchase"])[
                rng.integers(0, 5, n_events)
            ],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": np.char.add(
                np.char.add('{"k": ', rng.integers(0, 100, n_events).astype(str)), "}"
            ),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


def documents(n_docs: int) -> pa.Table:
    """Bag-of-words documents over the fixture vocabulary, 10-100 tokens
    each, with ~5 % near-duplicates (an earlier doc plus a ``dup`` token)
    and a few exact copies, so the dedup and clustering paths have work."""
    rng = np.random.default_rng(CONTENT_SEED + 1)
    vocab = np.array(VOCAB)
    langs = np.array(["en", "de", "es", "fr", "zh"])
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    return pa.table(
        {
            "doc_id": _ids(n_docs),
            "text": texts,
            "lang": langs[rng.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
            "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(n_vec: int, dim: int = 64) -> pa.Table:
    """Unit vectors clustered around 10 label centroids."""
    rng = np.random.default_rng(CONTENT_SEED + 2)
    label = rng.integers(0, 10, n_vec)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    v = centroids[label] + rng.normal(0.0, 1.0, (n_vec, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": _ids(n_vec),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def _write_split(t: pa.Table, path: str, rng, n_files: int) -> None:
    """Write ``t`` as a directory of ``n_files`` parquet files holding a
    seeded permutation of its rows."""
    os.makedirs(path)
    perm = rng.permutation(t.num_rows)
    t = t.take(pa.array(perm))
    bounds = np.linspace(0, t.num_rows, n_files + 1).astype(int)
    for k in range(n_files):
        pq.write_table(t.slice(bounds[k], bounds[k + 1] - bounds[k]), f"{path}/part-{k:03d}.parquet")


def _cached(out: str, build) -> str:
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.rename(tmp, out)
    return out


# files per table in the order_etl layout: fixed, so that scan parallelism
# is the same for every seed and only row order and file membership vary
FILES = {"lineitem": 4, "orders": 4, "events": 4, "customer": 2, "part": 2}


def order_etl_inputs(root: str, seed: int, sf: float) -> str:
    """The star schema + events at ``sf``, each table a directory of
    parquet files whose row order and split come from ``seed``."""

    def build(out: str) -> None:
        rng = np.random.default_rng(seed)
        for name, t in base_tables(sf).items():
            _write_split(t, f"{out}/{name}.parquet", rng, FILES.get(name, 1))

    return _cached(os.path.join(root, f"order_etl-sf{sf}-seed{seed}"), build)


def _suffix(rng) -> str:
    # letters only: an underscore or digit would fall in quality_score's
    # punctuation class and move docs across the quality gate
    return "".join(chr(ord("a") + int(c)) for c in rng.integers(0, 26, 4))


# replica id stride, as in tools/gen_scale_docs.py. Fixed rather than drawn
# from the seed: the train/eval split hashes the id, so a seeded stride
# would change the answers of every id-keyed query with the seed.
ID_STRIDE = 1_000_000


def overlay_documents(base: pa.Table, replicas: int, rng) -> pa.Table:
    """The replica construction of tools/gen_scale_docs.py: replica 0 is
    the base verbatim; replica i appends a seed-chosen suffix to every
    non-stopword token and shifts ids by ``i * ID_STRIDE``, so the
    near-dup graph is ``replicas`` disjoint isomorphic copies."""
    suffixes = []
    while len(suffixes) < replicas - 1:
        s = _suffix(rng)
        if s not in suffixes:
            suffixes.append(s)
    rows = base.to_pydict()
    ids, texts, langs, sources = [], [], [], []
    for i in range(replicas):
        for doc_id, text, lang, source in zip(rows["doc_id"], rows["text"], rows["lang"], rows["source"]):
            if i:
                sfx = suffixes[i - 1]
                text = " ".join(w if w in STOPWORDS else w + sfx for w in text.split(" "))
            ids.append(doc_id + i * ID_STRIDE)
            texts.append(text)
            langs.append(lang)
            sources.append(source)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": langs,
            "source": sources,
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def overlay_embeddings(base: pa.Table, replicas: int) -> pa.Table:
    """Replica i shifts vec_ids by ``i * ID_STRIDE`` and rotates each
    vector by i positions (norm-preserving); replica 0 keeps vec_id 0,
    the query vector of n1."""
    vec = np.stack(base.column("embedding").to_numpy(zero_copy_only=False))
    parts = []
    for i in range(replicas):
        parts.append(
            pa.table(
                {
                    "vec_id": pa.array(base.column("vec_id").to_numpy() + i * ID_STRIDE, pa.int64()),
                    "embedding": pa.array(list(np.roll(vec, -i, axis=1)), type=pa.list_(pa.float32())),
                    "label": base.column("label"),
                }
            )
        )
    return pa.concat_tables(parts)


def curation_inputs(root: str, seed: int, n_docs: int, n_vec: int, replicas: int) -> str:
    """``replicas`` x (``n_docs`` documents, ``n_vec`` embeddings)."""

    def build(out: str) -> None:
        rng = np.random.default_rng(seed)
        docs = overlay_documents(documents(n_docs), replicas, rng)
        emb = overlay_embeddings(embeddings(n_vec), replicas)
        _write_split(docs, f"{out}/documents.parquet", rng, 1)
        _write_split(emb, f"{out}/embeddings.parquet", rng, 1)

    return _cached(os.path.join(root, f"curation-d{n_docs}x{replicas}-seed{seed}"), build)


# junk line items: each is JS-falsy on exactly one field (makeRouter.js:94-96)
JUNK = (
    ("", "Tote", "2"),
    (None, "Tote", "2"),
    ("INV0", "", "2"),
    ("INV0", None, "2"),
    ("INV0", "Tote", "0"),
    ("INV0", "Tote", ""),
    ("INV0", "Tote", "abc"),
    ("INV0", "Tote", None),
)

WEBHOOK_SCHEMA = pa.schema(
    [
        ("webhook_id", pa.int64()),
        ("status", pa.string()),
        (
            "line_items",
            pa.list_(
                pa.struct(
                    [
                        ("inventory_id", pa.string()),
                        ("bag_model_website", pa.string()),
                        ("qty_website", pa.string()),
                    ]
                )
            ),
        ),
    ]
)
INVENTORY_SCHEMA = pa.schema(
    [
        ("inventory_id", pa.string()),
        ("bag_model", pa.string()),
        ("general_stock_qty", pa.int32()),
        ("qty_office", pa.int32()),
    ]
)
START_STOCK = 1_000_000  # above any inventory's total demand: admission never rejects


def webhook_inputs(root: str, seed: int, sf: float, n_webhooks: int, n_files: int) -> str:
    """Order webhooks (orders joined to their lineitems) split over
    ``n_files`` stream files, plus the inventory built from ``part``.

    Each order becomes one webhook: ``Approved`` unless its status is
    ``P``; one line item per lineitem, in line-number order, ~3 % junk
    lines and ~3 % repeated inventory ids (first wins). The webhooks and
    the inventory are fixed by ``CONTENT_SEED``; which webhook lands in
    which file comes from ``seed``, and cannot change the final inventory
    because no line ever runs out of stock.
    """

    def build(out: str) -> None:
        rng = np.random.default_rng(CONTENT_SEED + 3)
        base = base_tables(sf)
        orders = base["orders"].slice(0, n_webhooks).to_pydict()
        li = base["lineitem"]
        keep = np.asarray(li.column("l_orderkey")) < n_webhooks
        li = li.filter(pa.array(keep))
        order = np.lexsort((np.asarray(li.column("l_linenumber")), np.asarray(li.column("l_orderkey"))))
        li = li.take(pa.array(order)).to_pydict()
        part = base["part"].to_pydict()
        names = dict(zip(part["p_partkey"], part["p_name"]))
        items: dict[int, list] = {}
        for ok, pk, qty in zip(li["l_orderkey"], li["l_partkey"], li["l_quantity"]):
            items.setdefault(ok, []).append((f"INV{pk}", names[pk], str(int(qty))))
        webhooks = []
        for ok, st in zip(orders["o_orderkey"], orders["o_orderstatus"]):
            out_lines = []
            for line in items.get(ok, ()):
                r = rng.random()
                if r < 0.03:
                    out_lines.append(dict(zip(("inventory_id", "bag_model_website", "qty_website"), JUNK[int(rng.integers(0, len(JUNK)))])))
                elif r < 0.06 and out_lines:
                    prev = out_lines[int(rng.integers(0, len(out_lines)))]
                    if prev["inventory_id"]:
                        out_lines.append(dict(prev, qty_website=str(int(rng.integers(1, 9)))))
                out_lines.append(dict(zip(("inventory_id", "bag_model_website", "qty_website"), line)))
            webhooks.append({"webhook_id": ok, "status": "Pending" if st == "P" else "Approved", "line_items": out_lines})
        # round-robin over a seeded permutation: no stream file is empty
        batch_of = np.random.default_rng(seed).permutation(len(webhooks)) % n_files
        os.makedirs(f"{out}/webhooks")
        for k in range(n_files):
            rows = [w for w, b in zip(webhooks, batch_of) if b == k]
            pq.write_table(pa.Table.from_pylist(rows, WEBHOOK_SCHEMA), f"{out}/webhooks/batch-{k:03d}.parquet")
            # the file source orders files by modification time
            os.utime(f"{out}/webhooks/batch-{k:03d}.parquet", (1_700_000_000 + k, 1_700_000_000 + k))
        n = len(part["p_partkey"])
        inv = pa.table(
            {
                "inventory_id": [f"INV{pk}" for pk in part["p_partkey"]],
                "bag_model": part["p_name"],
                "general_stock_qty": pa.array(np.full(n, START_STOCK), pa.int32()),
                "qty_office": pa.array(rng.integers(0, 50, n), pa.int32()),
            },
            schema=INVENTORY_SCHEMA,
        )
        pq.write_table(inv, f"{out}/inventory.parquet")

    return _cached(os.path.join(root, f"webhooks-sf{sf}-n{n_webhooks}-f{n_files}-seed{seed}"), build)
