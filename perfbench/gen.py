"""Seeded load generator: every input a workload feeds the engine.

All inputs are pure functions of (seed, size) and are written as parquet
during set-up, before any timed op; the engine only ever receives these
files.  Each generator also returns the properties the workload's
behaviour depends on (rows, bytes, key skew, recency bias, injected
duplicate share), which the run records next to its metrics.

The base tables mimic the TPC-H-shaped fixtures the engine's tests use
(part / supplier / lineitem / orders / customer / nation / region /
documents / embeddings, same column names and types), sized by a scale
factor `sf` where sf=1 would be 200k parts and 6M lineitems.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "almond antique aquamarine azure beige bisque black blanched blue blush "
    "brown burlywood burnished chartreuse chiffon chocolate coral cornflower "
    "cornsilk cream cyan dark deep dim dodger drab firebrick floral forest "
    "frosted gainsboro ghost goldenrod green grey honeydew hot indian ivory "
    "khaki lace lavender lawn lemon light lime linen magenta maroon medium "
    "metallic midnight mint misty moccasin navajo navy olive orange orchid "
    "pale papaya peach peru pink plum powder puff purple red rose rosy royal "
    "saddle salmon sandy seashell sienna sky slate smoke snow spring steel "
    "tan thistle tomato turquoise violet wheat white yellow"
).split()
TYPES = ("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
FINISH = ("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
METAL = ("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
NATIONS = (
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2),
    ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0), ("MOZAMBIQUE", 0),
    ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3), ("SAUDI ARABIA", 4),
    ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EPOCH_1992_US = 694224000 * 1_000_000  # 1992-01-01T00:00:00Z in micros
DAY_US = 86400 * 1_000_000

# Traffic parameters.  Only IMPORT_NO_ID_SHARE has a source in the
# repository (FIXTURES.md: "~10% of products missing ProductID").  Every
# other value is an unverified assumption, not a measured traffic mix;
# README.md ("Traffic parameters") lists them.  Replace them when real
# mix figures are in the repository.
IMPORT_CHANGE_SHARE = 0.05        # products perturbed per import version
IMPORT_ZIPF_S = 1.1               # skew of which products change
IMPORT_DELIST_SHARE = 0.01        # products absent from a version (delete-missing)
IMPORT_NO_ID_SHARE = 0.10         # products sent without their id (matched by number)
IMPORT_NEW_SHARE = 0.01           # brand-new products, without an id
IMPORT_UNKNOWN_MFR_SHARE = 0.005  # manufacturers referenced by an unknown name
FEED_BATCH_SHARE = 0.001          # orders keys per feed batch
FEED_MIX = (0.60, 0.25, 0.15)     # update / insert / delete share of a batch
FEED_RECENCY_SCALE = 0.05         # mean distance from the newest key, share of keys
CORPUS_DUP_SHARE = 0.1            # injected duplicates, half exact, half near


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, stream name), so adding a
    stream never shifts the values another stream draws."""
    salt = int.from_bytes(stream.encode(), "little") % (2**63)
    return np.random.Generator(np.random.PCG64([seed, salt]))


def zipf_ranks(rng: np.random.Generator, n: int, size: int, s: float) -> np.ndarray:
    """`size` distinct indexes in [0, n) drawn with Zipf(s) weights over
    a seeded permutation (so the hot keys are not simply the low ones)."""
    weights = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    weights /= weights.sum()
    perm = rng.permutation(n)
    picked = rng.choice(n, size=min(size, n), replace=False, p=weights)
    return np.sort(perm[picked])


def recent_ranks(rng: np.random.Generator, n: int, size: int, scale: float) -> np.ndarray:
    """`size` distinct indexes in [0, n) favouring the high (recent) end:
    distance from the newest key is exponential with mean `scale * n`."""
    out: set[int] = set()
    while len(out) < min(size, n):
        d = rng.exponential(scale * n, size=size)
        for v in (n - 1 - np.minimum(d.astype(np.int64), n - 1)):
            if len(out) < size:
                out.add(int(v))
    return np.array(sorted(out), dtype=np.int64)


def _names(rng: np.random.Generator, n: int, k: int) -> list[str]:
    idx = rng.integers(0, len(WORDS), size=(n, k))
    return [" ".join(WORDS[j] for j in row) for row in idx]


def write_table(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The TPC-H-shaped base catalog at scale `sf`."""
    n_part = max(int(200_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_cust = max(int(150_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)

    r = rng_for(seed, "part")
    part = pa.table({
        "p_partkey": pa.array(np.arange(1, n_part + 1), pa.int64()),
        "p_name": _names(r, n_part, 5),
        "p_brand": [f"Brand#{a}{b}" for a, b in r.integers(1, 6, size=(n_part, 2))],
        "p_type": [
            f"{TYPES[a]} {FINISH[b]} {METAL[c]}"
            for a, b, c in zip(r.integers(0, 6, n_part), r.integers(0, 5, n_part),
                               r.integers(0, 5, n_part))
        ],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + r.random(n_part) * 1100, 2),
    })
    r = rng_for(seed, "supplier")
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(-999.99 + r.random(n_supp) * 10999.98, 2),
    })
    r = rng_for(seed, "customer")
    customer = pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(-999.99 + r.random(n_cust) * 10999.98, 2),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)],
    })
    r = rng_for(seed, "orders")
    okeys = np.arange(1, n_ord + 1, dtype=np.int64)
    odate = EPOCH_1992_US + r.integers(0, 2400, n_ord) * DAY_US
    orders = pa.table({
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array(r.integers(1, n_cust + 1, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(850 + r.random(n_ord) * 450000, 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_ord)],
    })
    r = rng_for(seed, "lineitem")
    lines = r.integers(1, 8, n_ord)
    l_ok = np.repeat(okeys, lines)
    l_ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(l_ok)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    l_pk = r.integers(1, n_part + 1, n_li)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_ok, pa.int64()),
        "l_partkey": pa.array(l_pk, pa.int64()),
        "l_suppkey": pa.array((l_pk + r.integers(0, 4, n_li) * (n_supp // 4 + 1)) % n_supp + 1,
                              pa.int64()),
        "l_linenumber": pa.array(l_ln, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + r.random(n_li) * 1100), 2),
        "l_discount": np.round(r.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_li)],
        "l_shipdate": pa.array(np.repeat(odate, lines) + r.integers(1, 122, n_li) * DAY_US,
                               pa.timestamp("us")),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": pa.array([k for _, k in NATIONS], pa.int32()),
    })
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    return {
        "part": part, "supplier": supplier, "customer": customer,
        "orders": orders, "lineitem": lineitem, "nation": nation,
        "region": region,
    }


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> dict[str, dict]:
    """Write each table as `<sf_dir>/<name>.parquet`; returns rows/bytes."""
    out = {}
    for name, t in tables.items():
        nbytes = write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
        out[name] = {"rows": t.num_rows, "bytes": nbytes}
    return out


# --- catalog_import --------------------------------------------------------

def catalog_versions(
    seed: int, base: dict[str, pa.Table], n_versions: int,
    change_share: float = IMPORT_CHANGE_SHARE, zipf_s: float = IMPORT_ZIPF_S,
) -> tuple[list[dict[str, pa.Table]], dict]:
    """`n_versions` full-catalog import inputs: each is the base catalog
    with a Zipf-skewed set of products perturbed (renamed, repriced,
    regrouped), a slice delisted (deleted by delete-missing), a slice of
    brand-new products that arrive WITHOUT a product id (surrogate ids),
    a slice of existing products that arrive without their id (matched
    by product number), and manufacturer names absent from the
    manufacturer dimension (auto-created).

    Tables per version: `products_in` (product_id may be empty;
    manufacturer by NAME; groups/group_sorting comma-quoted lists),
    `manufacturers_in`, `prices_in` (from lineitem; product by number)."""
    part, supplier, lineitem = base["part"], base["supplier"], base["lineitem"]
    n_part = part.num_rows
    pk = part["p_partkey"].to_numpy()
    names = part["p_name"].to_pylist()
    prices = part["p_retailprice"].to_numpy()
    s_names = supplier["s_name"].to_pylist()
    n_supp = len(s_names)
    li_pk = lineitem["l_partkey"].to_numpy()
    li_sk = lineitem["l_suppkey"].to_numpy()
    li_ok = lineitem["l_orderkey"].to_numpy()
    li_ln = lineitem["l_linenumber"].to_numpy()
    li_px = lineitem["l_extendedprice"].to_numpy() / np.maximum(lineitem["l_quantity"].to_numpy(), 1)
    price_id = pa.array([f"P{o}-{n}" for o, n in zip(li_ok, li_ln)])
    price_num = pa.array([f"NUM{x}" for x in li_pk])
    price_cur = pa.array([("EUR", "USD", "DKK")[x % 3] for x in li_sk])
    versions = []
    changed_total = 0
    hot_counts = np.zeros(n_part, dtype=np.int64)
    for v in range(n_versions):
        r = rng_for(seed, f"catalog_v{v}")
        n_change = max(int(n_part * change_share), 1)
        changed = zipf_ranks(r, n_part, n_change, zipf_s)
        changed_set = set(changed.tolist())
        hot_counts[changed] += 1
        changed_total += len(changed)
        v_names = list(names)
        v_prices = prices.copy()
        for i in changed:
            v_names[i] = f"{names[i]} v{v}"
            v_prices[i] = round(prices[i] * (0.9 + 0.2 * r.random()), 2)
        keep = np.ones(n_part, dtype=bool)
        keep[r.choice(n_part, size=max(int(n_part * IMPORT_DELIST_SHARE), 1), replace=False)] = False
        idx = np.nonzero(keep)[0]
        no_id = set(r.choice(idx, size=max(int(len(idx) * IMPORT_NO_ID_SHARE), 1),
                             replace=False).tolist())
        mfr_of = (pk[idx] * 7 + v * np.isin(idx, changed)) % n_supp
        mfr_name = [s_names[m] for m in mfr_of]
        # a few manufacturers referenced by a name the dimension lacks
        for j in r.choice(len(idx), size=max(int(len(idx) * IMPORT_UNKNOWN_MFR_SHARE), 1),
                          replace=False):
            mfr_name[j] = f"Maker {WORDS[(v + j) % len(WORDS)]} {j % 7}"
        n_groups = 1 + (pk[idx] % 3)
        groups, sorting = [], []
        for i, g in zip(idx, n_groups):
            gs = [f"GROUP{(pk[i] * (k + 3) + (v if i in changed_set else 0)) % 97}" for k in range(g)]
            groups.append(",".join(f'"{x}"' for x in gs))
            sorting.append(",".join(str(10 * (k + 1)) for k in range(g)))
        # new products (no id at all): numbers unseen in the base catalog.
        # A number recurs three versions later, after delete-missing has
        # removed it, so it is minted a fresh surrogate id again
        n_new = max(int(n_part * IMPORT_NEW_SHARE), 1)
        new_nums = [f"NEW-{v % 3}-{k}" for k in range(n_new)]
        products = pa.table({
            "product_id": [("" if i in no_id else f"PROD{pk[i]}") for i in idx] + [""] * n_new,
            "product_number": [f"NUM{pk[i]}" for i in idx] + new_nums,
            "product_name": [v_names[i] for i in idx] + [f"new product {x}" for x in new_nums],
            "product_price": np.concatenate([v_prices[idx], np.full(n_new, 99.0)]),
            "manufacturer": mfr_name + [s_names[k % n_supp] for k in range(n_new)],
            "groups": groups + ['"GROUP0"'] * n_new,
            "group_sorting": sorting + ["10"] * n_new,
        })
        manufacturers = pa.table({
            "manufacturer_id": [f"MANU{k + 1}" for k in range(n_supp)],
            "manufacturer_name": s_names,
        })
        live = np.isin(li_pk, pk[idx])
        price_scale = np.where(np.isin(li_pk, pk[changed]), 1.0 + 0.01 * (v + 1), 1.0)
        mask = pa.array(live)
        prices_in = pa.table({
            "price_id": price_id.filter(mask),
            "product_number": price_num.filter(mask),
            "price_currency": price_cur.filter(mask),
            "price_amount": np.round(li_px[live] * price_scale[live], 2),
            "price_quantity": pa.array(li_ln[live], pa.int32()),
        })
        versions.append({
            "products_in": products,
            "manufacturers_in": manufacturers,
            "prices_in": prices_in,
        })
    top = np.sort(hot_counts)[::-1]
    props = {
        "versions": n_versions,
        "changed_keys_per_version": int(changed_total / n_versions),
        "zipf_s": zipf_s,
        "hottest_key_share_of_changes": float(top[0] / max(changed_total, 1)),
        "delisted_share": IMPORT_DELIST_SHARE,
        "no_id_share": IMPORT_NO_ID_SHARE,
        "new_products_per_version": max(int(n_part * IMPORT_NEW_SHARE), 1),
        "unknown_manufacturer_share": IMPORT_UNKNOWN_MFR_SHARE,
    }
    return versions, props


# --- delta_feed ------------------------------------------------------------

def delta_batches(
    seed: int, orders: pa.Table, n_batches: int, batch_share: float = FEED_BATCH_SHARE,
    recency_scale: float = FEED_RECENCY_SCALE,
) -> tuple[list[dict], dict]:
    """`n_batches` small change batches against `orders`: each touches
    `batch_share` of the keys, drawn with recency bias (newest keys
    hottest), split by FEED_MIX into updates / inserts (fresh keys above
    the running maximum) / deletes.  Batches are generated by replaying
    them over a plain-Python key set, so a delete never targets a key
    already gone and an update never targets a deleted key."""
    n0 = orders.num_rows
    live = np.sort(orders["o_orderkey"].to_numpy())
    next_key = int(live[-1]) + 1
    size = max(int(n0 * batch_share), 8)
    batches = []
    for b in range(n_batches):
        r = rng_for(seed, f"delta_b{b}")
        n_ins = int(size * FEED_MIX[1])
        n_del = int(size * FEED_MIX[2])
        n_upd = size - n_ins - n_del
        picks = recent_ranks(r, len(live), n_upd + n_del, recency_scale)
        r.shuffle(picks)
        upd = sorted(int(k) for k in live[picks[:n_upd]])
        dele = sorted(int(k) for k in live[picks[n_upd:]])
        ins = list(range(next_key, next_key + n_ins))
        next_key += n_ins
        up_keys = upd + ins
        n_up = len(up_keys)
        rows = {
            "o_orderkey": up_keys,
            "o_custkey": (r.integers(1, 1000, n_up)).tolist(),
            "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_up)],
            "o_totalprice": np.round(850 + r.random(n_up) * 450000, 2).tolist(),
            "o_orderdate": (EPOCH_1992_US + r.integers(2400, 2500, n_up) * DAY_US).tolist(),
            "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_up)],
        }
        batches.append({"upserts": rows, "deletes": dele})
        # keys stay sorted: deletes leave, inserts are above every live key
        live = np.concatenate([np.setdiff1d(live, dele), np.array(ins, dtype=live.dtype)])
    props = {
        "batches": n_batches,
        "rows_per_batch": size,
        "mix": "{:.0%} update / {:.0%} insert / {:.0%} delete".format(*FEED_MIX),
        "recency_mean_distance_share": recency_scale,
    }
    return batches, props


# --- corpus_curation -------------------------------------------------------

def corpus(
    seed: int, n_docs: int, dup_share: float = CORPUS_DUP_SHARE, dim: int = 32,
    words_per_doc: int = 60, id_offset: int = 0,
) -> tuple[pa.Table, pa.Table, dict]:
    """Documents and embeddings with near-duplicates injected: a
    `dup_share` of documents are copies of an earlier document, half of
    them exact and half with a few words replaced (near duplicates); the
    embeddings of copies are the source vector plus small noise."""
    r = rng_for(seed, "corpus")
    vocab = [f"{a}{b}" for a in WORDS[:40] for b in ("", "s", "ed", "ing")]
    ids = np.arange(1, n_docs + 1, dtype=np.int64) + id_offset
    texts = []
    vecs = r.standard_normal((n_docs, dim)).astype(np.float32)
    n_dup = int(n_docs * dup_share)
    dup_rows = set(r.choice(np.arange(n_docs // 2, n_docs), size=n_dup, replace=False).tolist())
    exact = near = 0
    for i in range(n_docs):
        if i in dup_rows:
            src = int(r.integers(0, n_docs // 2))
            words = texts[src].split(" ")
            if i % 2 == 0:
                exact += 1
            else:
                near += 1
                for j in r.choice(len(words), size=3, replace=False):
                    words[j] = vocab[int(r.integers(0, len(vocab)))]
            texts.append(" ".join(words))
            vecs[i] = vecs[src] + 0.05 * r.standard_normal(dim).astype(np.float32)
        else:
            texts.append(" ".join(vocab[j] for j in r.integers(0, len(vocab), words_per_doc)))
    docs = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": ["en"] * n_docs,
    })
    emb = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
    })
    props = {
        "docs": n_docs,
        "injected_duplicate_share": n_dup / n_docs,
        "exact_copies": exact,
        "near_copies": near,
        "embedding_dim": dim,
        "words_per_doc": words_per_doc,
    }
    return docs, emb, props
