"""Seeded input generators for the benchmark.

Two input sets:

* ``deepbook``: DeepBook-shaped sources in the ``Sources.sui`` layout
  (``sui_events.parquet``, ``sui_objects.parquet``, ``prices_day.parquet``),
  one time-sorted file per day of history, plus one delta directory per hour
  that the incremental workload appends before each run. ``expected.json``
  holds what the program must produce, computed here independently of it.
* ``tables``: TPC-H-ish stand-in tables plus ``events``, ``documents`` and
  ``embeddings`` in the ``Sources.testdata`` layout (``<name>.parquet``), for
  the operator queries.

Both are pure functions of (seed, size): the same arguments give
byte-identical content, which :func:`content_digest` checks. The sizes are
arguments of :func:`generate`; run.py passes the benchmark's own.
"""

import hashlib
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOUR_MS = 3_600_000
DAY_MS = 24 * HOUR_MS
# Regular traffic of an hour lands in its first 54 minutes; the last six
# minutes are left for late arrivals delivered with the next hour, so a late
# event is always at or after its model's inclusive watermark.
REGULAR_SPAN_MS = 54 * 60_000

# Fixed clock of the generated history: the base ends here and every delta
# hour comes after it. RunContext.now is pinned to it so the 30-day backfill
# bound is the same for every run over the same input.
NOW_MS = 1_769_904_000_000  # 2026-02-01T00:00:00Z
BACKFILL_DAYS = 30

PKG = "0x97d9473771b01f77b0940c589484184b49f6444627ec121314fae6a6d36fb86b"
USDC = "0xdba34672e30cb065b1f93e3ab55318768fd6fef66c15942c9f7cb846e2f900e7::usdc::USDC"
DEEP = "0xdeeb7a4662eec9f2f3def03fb937a663dddaa2e215b8078a284d026b7946c270::deep::DEEP"
SUI_SHORT = "0x2::sui::SUI"
SUI_LONG = "0x0000000000000000000000000000000000000000000000000000000000000002::sui::SUI"
UNKNOWN = "0xbad0000000000000000000000000000000000000000000000000000000000bad::mys::MYS"
# asset type -> decimals the fct divides volumes by (unknown assets default to 9)
ASSETS = [(USDC, 6), (SUI_SHORT, 9), (DEEP, 6), (UNKNOWN, 9), (SUI_LONG, 9)]

EVENT_TYPES = {
    "deepbook_margin_pool_asset_supplied": f"{PKG}::margin_pool::AssetSupplied",
    "deepbook_margin_pool_asset_withdrawn": f"{PKG}::margin_pool::AssetWithdrawn",
    "deepbook_margin_loan_borrowed": f"{PKG}::margin_manager::LoanBorrowedEvent",
    "deepbook_margin_loan_repaid": f"{PKG}::margin_manager::LoanRepaidEvent",
    "deepbook_margin_deposit_collateral": f"{PKG}::margin_manager::DepositCollateralEvent",
}
# fct volume column fed by each event model's amount
VOLUMES = {
    "deepbook_margin_pool_asset_supplied": "daily_supply_volume",
    "deepbook_margin_pool_asset_withdrawn": "daily_withdraw_volume",
    "deepbook_margin_loan_borrowed": "daily_borrow_volume",
    "deepbook_margin_loan_repaid": "daily_repay_volume",
}
MODELS = list(EVENT_TYPES)
TYPE_WEIGHTS = [0.25, 0.15, 0.25, 0.12, 0.15]  # remaining 0.08 is noise
NOISE_TYPES = ["0xother::mod::NoiseEvent", f"{PKG}::margin_pool::InterestParamsUpdated"]
POOL_TYPE_PREFIX = f"{PKG}::margin_pool::MarginPool<"

EVENTS_SCHEMA = pa.schema([
    ("transaction_digest", pa.string()), ("event_index", pa.int64()),
    ("timestamp_ms", pa.int64()), ("sender", pa.string()),
    ("event_type", pa.string()), ("event_json", pa.string())])
OBJECTS_SCHEMA = pa.schema([
    ("object_id", pa.string()), ("version", pa.int64()), ("type_", pa.string()),
    ("object_status", pa.string()), ("object_json", pa.string()),
    ("timestamp_ms", pa.int64())])
PRICES_SCHEMA = pa.schema([
    ("blockchain", pa.string()), ("symbol", pa.string()),
    ("timestamp", pa.timestamp("us", tz="UTC")), ("price", pa.float64())])


def _write(rows, schema, path):
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.table([pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _pool_id(p):
    return f"0xpool{p:04d}"


class _DeepbookGen:
    """Stateful generator: keys, versions and expectations carry across the
    base history and every delta hour."""

    def __init__(self, seed, pools):
        self.rng = random.Random(seed)
        self.seed = seed
        self.pools = pools
        self.n_tx = 0
        self.version = [0] * pools
        self.delivered = []  # every event row so far (re-delivery pool)
        self.event_keys = {m: set() for m in MODELS}  # in-bound distinct keys
        self.object_keys = set()
        self.object_days = set()  # (pool, day) with an in-bound pool object
        # (model, pool, day) -> raw amount over distinct in-bound keys
        self.volume = {}

    # ---- events -----------------------------------------------------------

    def _amount(self):
        return self.rng.randrange(100_000, 1_000_000_000)

    def _shares(self, amount, malformed):
        if self.rng.random() < 0.002:
            return malformed
        return str(amount - self.rng.randrange(0, 10_000))

    def _event(self, model, pool, ts):
        r = self.rng
        self.n_tx += 1
        digest = f"0x{self.seed:06x}{self.n_tx:010x}"
        idx = r.randrange(0, 4)
        pid = _pool_id(pool)
        asset = ASSETS[pool % len(ASSETS)][0]
        amt = self._amount()
        if model == "deepbook_margin_pool_asset_supplied":
            js = (f'{{"margin_pool_id":"{pid}","supplier_cap_id":"0xcap{r.randrange(500)}",'
                  f'"asset_type":{{"name":"{asset}"}},"supply_amount":"{amt}",'
                  f'"supply_shares":"{self._shares(amt, "xx")}","timestamp":"{ts}"}}')
        elif model == "deepbook_margin_pool_asset_withdrawn":
            js = (f'{{"margin_pool_id":"{pid}","supplier_cap_id":"0xcap{r.randrange(500)}",'
                  f'"asset_type":{{"name":"{asset}"}},"withdraw_amount":"{amt}",'
                  f'"withdraw_shares":"{amt - r.randrange(0, 5000)}","timestamp":"{ts}"}}')
        elif model == "deepbook_margin_loan_borrowed":
            js = (f'{{"loan_amount":"{amt}","loan_shares":"{amt - r.randrange(0, 5000)}",'
                  f'"margin_manager_id":"0xmgr{r.randrange(2000)}","margin_pool_id":"{pid}",'
                  f'"timestamp":"{ts}"}}')
        elif model == "deepbook_margin_loan_repaid":
            js = (f'{{"margin_manager_id":"0xmgr{r.randrange(2000)}","margin_pool_id":"{pid}",'
                  f'"repay_amount":"{amt}","repay_shares":"{self._shares(amt, "oops")}",'
                  f'"timestamp":"{ts}"}}')
        else:
            pyth = "n/a" if r.random() < 0.002 else str(r.randrange(90_000_000, 110_000_000))
            js = (f'{{"amount":"{amt}","asset":{{"name":"{asset}"}},'
                  f'"margin_manager_id":"0xmgr{r.randrange(2000)}","pyth_decimals":"8",'
                  f'"pyth_price":"{pyth}","timestamp":"{ts}"}}')
        return (digest, idx, ts, f"0xsender{r.randrange(300)}", EVENT_TYPES[model], js), amt

    def _noise(self, ts):
        self.n_tx += 1
        return (f"0x{self.seed:06x}{self.n_tx:010x}", 0, ts, "0xsender0",
                self.rng.choice(NOISE_TYPES), '{"x":"1"}')

    def _record(self, row, model, pool, amt):
        key = (row[0], row[1])
        if key in self.event_keys[model]:
            return
        self.event_keys[model].add(key)
        if model in VOLUMES:
            k = (model, pool, row[2] // DAY_MS)
            self.volume[k] = self.volume.get(k, 0) + amt

    def events_between(self, n, lo, span):
        """n events (types by weight, pools uniform) at lo + [0, span)."""
        rows = []
        for _ in range(n):
            ts = lo + self.rng.randrange(span)
            u = self.rng.random()
            acc = 0.0
            model = None
            for m, w in zip(MODELS, TYPE_WEIGHTS):
                acc += w
                if u < acc:
                    model = m
                    break
            if model is None:
                rows.append(self._noise(ts))
                continue
            pool = self.rng.randrange(self.pools)
            row, amt = self._event(model, pool, ts)
            self._record(row, model, pool, amt)
            rows.append(row)
        return rows

    # ---- objects ----------------------------------------------------------

    def _object(self, pool, ts):
        r = self.rng
        self.version[pool] += 1
        v = self.version[pool] * 100 + pool % 100
        asset = ASSETS[pool % len(ASSETS)][0]
        zero = r.random() < 0.01
        supply = 0 if zero else r.randrange(10**11, 10**13)
        borrow = 0 if zero else r.randrange(0, max(1, supply // 2))
        zero_shares = r.random() < 0.01
        s_sh = 0 if zero_shares else supply - r.randrange(0, 10**6)
        b_sh = 0 if zero_shares else max(0, borrow - r.randrange(0, 10**6))
        enabled = "true" if pool % 2 == 0 else "false"
        js = (f'{{"id":{{"id":"{_pool_id(pool)}"}},'
              f'"state":{{"total_borrow":"{borrow}","total_supply":"{supply}",'
              f'"borrow_shares":"{b_sh}","supply_shares":"{s_sh}",'
              f'"last_update_timestamp":"{ts - 1000}"}},'
              f'"vault":"{r.randrange(10**10, 10**11)}",'
              f'"protocol_fees":{{"fees_per_share":"{r.randrange(1, 100)}",'
              f'"maintainer_fees":"{r.randrange(10**3, 10**5)}","protocol_fees":"{r.randrange(10**3, 10**5)}",'
              f'"total_shares":"{s_sh}","referrals":{{"size":"{r.randrange(5)}"}}}},'
              f'"positions":{{"positions":{{"size":"{r.randrange(1000)}","id":{{"id":"0xtbl{pool}"}}}}}},'
              f'"config":{{"interest_config":{{"base_rate":"10000000","base_slope":"50000000",'
              f'"excess_slope":"900000000","optimal_utilization":"800000000"}},'
              f'"margin_pool_config":{{"max_utilization_rate":"950000000","min_borrow":"1000000",'
              f'"protocol_spread":"100000000","supply_cap":"5000000000000",'
              f'"rate_limit_enabled":"{enabled}","rate_limit_capacity":"100000000000"}}}},'
              f'"rate_limiter":{{"available":"{r.randrange(10**10, 10**11)}","capacity":"100000000000",'
              f'"enabled":{enabled},"last_updated_ms":"{ts - 500}"}},'
              f'"allowed_deepbook_pools":{{"contents":["0xdbp1","0xdbp2"]}}}}')
        row = (_pool_id(pool), v, f"{POOL_TYPE_PREFIX}{asset}>", "Exists", js, ts)
        self.object_keys.add((row[0], v))
        self.object_days.add((pool, ts // DAY_MS))
        return row

    def objects_between(self, n, lo, span, pools=None):
        pts = sorted((lo + self.rng.randrange(span),
                      self.rng.randrange(self.pools) if pools is None else p)
                     for p in (pools or [None] * n))
        return [self._object(pool, ts) for ts, pool in pts]

    # ---- prices -----------------------------------------------------------

    def prices_for_hour(self, hour_start, skip_sui=False):
        ts = hour_start + 30 * 60_000
        rows = []
        if not skip_sui:
            rows.append(("sui", "SUI", ts, round(3.0 + self.rng.random(), 4)))
        rows.append(("sui", "USDC", ts, 0.99))  # the stablecoin peg must win
        rows.append(("sui", "DEEP", ts, round(0.1 + self.rng.random() / 10, 5)))
        return rows

    # ---- expectations -----------------------------------------------------

    def expected(self):
        pools = {}
        for p in range(self.pools):
            dec = ASSETS[p % len(ASSETS)][1]
            vols = {}
            for model, col in VOLUMES.items():
                vols[col] = sum(a for (m, pp, d), a in self.volume.items()
                                if m == model and pp == p and (p, d) in self.object_days)
            pools[_pool_id(p)] = {"decimals": dec, "raw_volume": vols}
        return {
            "event_rows": {m: len(k) for m, k in self.event_keys.items()},
            "stg_rows": len(self.object_keys),
            "fct_rows": len(self.object_days),
            "pools": pools,
        }


def _ts_us(ms):
    return ms * 1000


def deepbook(out, seed, pools, days, events_per_pool_day, versions_per_pool_day, hours):
    """Writes base history (`days` days ending at NOW_MS) and `hours` hourly
    deltas under `out`; returns the expectations document."""
    assert 1 <= days <= BACKFILL_DAYS, "history must lie inside the backfill bound"
    g = _DeepbookGen(seed, pools)
    start = NOW_MS - days * DAY_MS
    old = NOW_MS - (BACKFILL_DAYS + 10) * DAY_MS
    missing_sui_day = min(5, days - 1)
    per_hour_events = max(1, pools * events_per_pool_day // 24)
    per_hour_versions = max(1, pools * versions_per_pool_day // 24)

    # events and objects older than the backfill bound: excluded by every run
    old_events, old_objects = [], []
    for m in MODELS:
        row, _ = g._event(m, 0, old)
        old_events.append(row)
    old_objects.append((_pool_id(0), 1, f"{POOL_TYPE_PREFIX}{USDC}>", "Exists",
                        '{"id":{"id":"%s"},"state":{"total_borrow":"1","total_supply":"2",'
                        '"borrow_shares":"1","supply_shares":"2","last_update_timestamp":"%d"}}'
                        % (_pool_id(0), old), old))
    _write(old_events, EVENTS_SCHEMA, f"{out}/base/sui_events.parquet/part-old.parquet")
    _write(old_objects, OBJECTS_SCHEMA, f"{out}/base/sui_objects.parquet/part-old.parquet")

    prices = []
    for d in range(days):
        day0 = start + d * DAY_MS
        events, objects = [], []
        for h in range(24):
            lo = day0 + h * HOUR_MS
            events += g.events_between(per_hour_events, lo, REGULAR_SPAN_MS)
            prices += g.prices_for_hour(lo, skip_sui=(d == missing_sui_day))
        objects += g.objects_between(0, day0, 24 * HOUR_MS - 6 * 60_000,
                                     pools=[p for p in range(pools) for _ in range(versions_per_pool_day)])
        # an off-type object: filtered by the staging model's type prefix
        objects.append(("0xother1", d + 1, f"{PKG}::other::Thing<X>", "Exists", '{"x":"1"}', day0 + 1000))
        events.sort(key=lambda r: r[2])
        objects.sort(key=lambda r: r[5])
        g.delivered += events
        _write(events, EVENTS_SCHEMA, f"{out}/base/sui_events.parquet/part-d{d:03d}.parquet")
        _write(objects, OBJECTS_SCHEMA, f"{out}/base/sui_objects.parquet/part-d{d:03d}.parquet")
        # off-chain and off-symbol prices: filtered by the fct
        prices += [("ethereum", "SUI", day0 + 12 * HOUR_MS, 99.9), ("sui", "BTC", day0 + 12 * HOUR_MS, 50000.0)]
    _write([(a, b, _ts_us(t), p) for a, b, t, p in prices], PRICES_SCHEMA,
           f"{out}/base/prices_day.parquet/part-base.parquet")

    expected = {"base": g.expected(), "hours": []}
    for h in range(1, hours + 1):
        lo = NOW_MS + (h - 1) * HOUR_MS
        events = g.events_between(per_hour_events, lo, REGULAR_SPAN_MS)
        # late arrivals: timestamped in the previous hour's last six minutes,
        # at or after every model's watermark, so the incremental run keeps them
        late = g.events_between(max(1, per_hour_events // 50), lo - 6 * 60_000, 6 * 60_000)
        # re-deliveries of already-delivered keys, older or recent
        redelivered = [g.rng.choice(g.delivered) for _ in range(max(1, per_hour_events // 50))]
        rows = sorted(events + late + redelivered, key=lambda r: r[2])
        g.delivered += events + late
        objects = g.objects_between(per_hour_versions, lo, REGULAR_SPAN_MS)
        _write(rows, EVENTS_SCHEMA, f"{out}/hours/{h:04d}/sui_events.parquet")
        _write(objects, OBJECTS_SCHEMA, f"{out}/hours/{h:04d}/sui_objects.parquet")
        _write([(a, b, _ts_us(t), p) for a, b, t, p in g.prices_for_hour(lo)], PRICES_SCHEMA,
               f"{out}/hours/{h:04d}/prices_day.parquet")
        expected["hours"].append(g.expected())
    expected.update(now_ms=NOW_MS, backfill_days=BACKFILL_DAYS)
    return expected


# ---- operator-query tables -------------------------------------------------

WORDS = ("spark window merge table column vector stream value data small join filter big "
         "group hash customer sort order slow line part fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def tables(out, seed, scale, customer_scale):
    """Stand-in tables at `scale` x the row counts of the sf0.1 test tables,
    except the customer table (the d14 family's only input), which is at
    `customer_scale` x."""
    rng = np.random.default_rng(seed)
    n = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
         "lineitem": 600000, "events": 100000, "documents": 5000, "embeddings": 2000}
    n = {k: max(10, int(v * (customer_scale if k == "customer" else scale))) for k, v in n.items()}
    day_us = 86_400_000_000
    y1995 = 788_918_400_000_000

    def put(name, cols):
        os.makedirs(out, exist_ok=True)
        pq.write_table(pa.table(cols), f"{out}/{name}.parquet", compression="snappy")

    put("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    c = n["customer"]
    put("customer", {"c_custkey": np.arange(c, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(c)],
                     "c_nationkey": pa.array(rng.integers(0, 25, c, dtype=np.int32)),
                     "c_acctbal": np.round(rng.uniform(-999, 9999, c), 2),
                     "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c).tolist()})
    s = n["supplier"]
    put("supplier", {"s_suppkey": np.arange(s, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(s)],
                     "s_nationkey": pa.array(rng.integers(0, 25, s, dtype=np.int32)),
                     "s_acctbal": np.round(rng.uniform(-999, 9999, s), 2)})
    p = n["part"]
    adj = ["large", "small", "hot", "cold", "red", "blue", "shiny", "matte"]
    noun = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
    put("part", {"p_partkey": np.arange(p, dtype=np.int64),
                 "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, p), rng.choice(noun, p))],
                 "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
                 "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], p).tolist(),
                 "p_size": pa.array(rng.integers(1, 51, p, dtype=np.int32)),
                 "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 2)})
    o = n["orders"]
    put("orders", {"o_orderkey": np.arange(o, dtype=np.int64),
                   "o_custkey": rng.integers(0, c, o, dtype=np.int64),
                   "o_orderstatus": rng.choice(["O", "F", "P"], o).tolist(),
                   "o_totalprice": np.round(rng.uniform(1000, 500000, o), 2),
                   "o_orderdate": pa.array(y1995 + rng.integers(0, 2400, o) * day_us, type=pa.timestamp("us")),
                   "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o).tolist()})
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    put("lineitem", {"l_orderkey": rng.integers(0, o, li, dtype=np.int64),
                     "l_partkey": rng.integers(0, p, li, dtype=np.int64),
                     "l_suppkey": rng.integers(0, s, li, dtype=np.int64),
                     "l_linenumber": pa.array(rng.integers(1, 8, li, dtype=np.int32)),
                     "l_quantity": qty,
                     "l_extendedprice": np.round(qty * rng.uniform(900, 2100, li), 2),
                     "l_discount": np.round(rng.integers(0, 11, li) / 100, 2),
                     "l_tax": np.round(rng.integers(0, 9, li) / 100, 2),
                     "l_returnflag": rng.choice(["N", "A", "R"], li).tolist(),
                     "l_linestatus": rng.choice(["O", "F"], li).tolist(),
                     "l_shipdate": pa.array(y1995 + rng.integers(0, 2500, li) * day_us, type=pa.timestamp("us"))})
    e = n["events"]
    start = 1_704_067_200_000_000  # 2024-01-01
    put("events", {"event_id": np.arange(e, dtype=np.int64),
                   "ts": pa.array(np.sort(start + rng.integers(0, 30 * day_us, e)), type=pa.timestamp("us")),
                   "user_id": rng.integers(0, max(10, e // 66), e, dtype=np.int64),
                   "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], e).tolist(),
                   "value": np.round(rng.uniform(0, 200, e), 2),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = []
    for i in range(d):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier document
            src = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(src)))
            src[j] = "dup"
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    put("documents", {"doc_id": np.arange(d, dtype=np.int64), "text": texts,
                      "lang": rng.choice(LANGS, d, p=LANG_P).tolist(),
                      "source": [f"src{i % 20}" for i in range(d)],
                      "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[labels] + rng.normal(0, 1.5, (m, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {"vec_id": np.arange(m, dtype=np.int64),
                       "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
                       "label": pa.array(labels.astype(np.int32))})
    return {"rows": n}


def content_digest(root):
    """SHA-256 over every file's relative path and decoded rows (parquet
    bytes embed a writer version, so rows are hashed, not bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for f in sorted(filenames):
            path = os.path.join(dirpath, f)
            h.update(os.path.relpath(path, root).encode())
            if f.endswith(".parquet"):
                h.update(str(pq.read_table(path).to_pylist()).encode())
            else:
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def generate(kind, out, seed, **size):
    """Writes one input set into `out` (replacing it) and its
    expectations into `out/expected.json`."""
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    exp = deepbook(out, seed, **size) if kind == "deepbook" else tables(out, seed, **size)
    with open(os.path.join(out, "expected.json"), "w") as fh:
        json.dump(exp, fh, sort_keys=True)
    return exp

