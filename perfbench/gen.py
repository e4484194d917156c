"""Seeded Singer corpora and the manifest their Parquet output must match.

The program under test sees only the bytes these functions return. Values
are drawn by seed from the read-only sf0.1 tables; sizes are fixed, so a
seed changes values and interleaving, never the amount of work.

The manifest holds, per stream, the row count, the key columns and an
order-independent checksum of the flattened rows, plus the final state
bookmark under the P8 fold (the last STATE wins when no RECORD follows it).
Flattening follows the engine's documented semantics: nested objects become
`parent__child` columns, arrays become their Python `str()` rendering,
`integer` is int64, `number` is float64, and record-only fields pass through
under their own names.
"""
import datetime
import hashlib
import json
import os
import random
import re

# batch_backfill corpus size (fixed for every seed).
N_ORDERS = 5000
N_EVENTS = 11000
N_CUSTOMERS = 4000
STATE_EVERY = 2000

# live_tail page shape.
LIVE_PAGE_RECORDS = 100

_DUMPS = json.JSONEncoder(separators=(",", ":"), ensure_ascii=False).encode


def _nullable(t, **kw):
    return dict({"type": ["null", t]}, **kw)


ORDERS_SCHEMA = {
    "type": "object",
    "required": ["o_orderkey"],
    "properties": {
        "o_orderkey": {"type": "integer"},
        "o_orderstatus": _nullable("string", maxLength=1),
        "o_totalprice": _nullable("number", minimum=0),
        "o_orderdate": _nullable("string", format="date-time"),
        "o_orderpriority": _nullable("string"),
        "customer": {"type": ["null", "object"], "properties": {
            "c_custkey": _nullable("integer"),
            "c_name": _nullable("string"),
            "c_mktsegment": _nullable("string"),
            "nation": {"type": ["null", "object"], "properties": {
                "n_nationkey": _nullable("integer"),
                "n_name": _nullable("string")}}}},
        "line_items": {"type": ["null", "array"], "items": {
            "type": "object", "properties": {
                "l_linenumber": {"type": "integer"},
                "l_partkey": {"type": "integer"},
                "l_quantity": {"type": "number"},
                "l_extendedprice": {"type": "number"},
                "l_discount": {"type": "number"},
                "l_returnflag": {"type": "string"}}}},
    },
}

EVENTS_SCHEMA = {
    "type": "object",
    "required": ["event_id"],
    "properties": {
        "event_id": {"type": "integer"},
        "ts": _nullable("string", format="date-time"),
        "user_id": _nullable("integer", minimum=0),
        "event_type": _nullable("string", maxLength=16, pattern="^[a-z_]+$"),
        "value": _nullable("number", multipleOf=0.01, minimum=0),
        "props": _nullable("string", maxLength=256),
        "session": _nullable("integer", minimum=0),
    },
}

_CUSTOMER_PROPS = {
    "c_custkey": {"type": "integer"},
    "c_name": _nullable("string", maxLength=32),
    "c_nationkey": _nullable("integer", minimum=0),
    "c_acctbal": _nullable("number"),
    "c_mktsegment": _nullable("string"),
    "c_phone": _nullable("string", pattern="^[0-9-]+$"),
    "c_email": _nullable("string", maxLength=64),
    "c_address": _nullable("string"),
    "c_city": _nullable("string"),
    "c_postal": _nullable("string", pattern="^[0-9]{5}$"),
    "c_signup": _nullable("string", format="date-time"),
    "c_tier": _nullable("string", enum=["bronze", "silver", "gold", "platinum"]),
    "c_credit_limit": _nullable("number", minimum=0),
    "c_active": _nullable("boolean"),
    "c_n_orders": _nullable("integer", minimum=0),
    "c_last_order": _nullable("string", format="date-time"),
    "c_channel": _nullable("string"),
    "c_opt_in": _nullable("boolean"),
    "c_region": _nullable("integer"),
    "c_balance_bucket": _nullable("integer", multipleOf=100),
    "c_comment": _nullable("string", maxLength=80),
    "c_score": _nullable("number"),
    "c_birth_year": _nullable("integer", minimum=1900, maximum=2010),
    "c_language": _nullable("string"),
}
CUSTOMERS_SCHEMA_V1 = {"type": "object", "required": ["c_custkey"],
                       "properties": _CUSTOMER_PROPS}
CUSTOMERS_SCHEMA_V2 = {"type": "object", "required": ["c_custkey"],
                       "properties": dict(_CUSTOMER_PROPS,
                                          c_loyalty_points=_nullable("integer", minimum=0))}

ISSUES_SCHEMA = {"type": "object", "properties": {
    "issue_id": {"type": "integer"},
    "user_id": _nullable("integer"),
    "state": _nullable("string", enum=["open", "closed"]),
    "title": _nullable("string", maxLength=64),
    "priority": _nullable("integer", minimum=0),
    "score": _nullable("number"),
    "updated_at": _nullable("string", format="date-time"),
}}
COMMENTS_SCHEMA = {"type": "object", "properties": {
    "comment_id": {"type": "integer"},
    "issue_id": _nullable("integer"),
    "user_id": _nullable("integer"),
    "body": _nullable("string", maxLength=128),
    "likes": _nullable("integer", minimum=0),
    "created_at": _nullable("string", format="date-time"),
}}

KEYS = {"orders": ["o_orderkey"], "events": ["event_id"], "customers": ["c_custkey"],
        "issues": ["issue_id"], "comments": ["comment_id"]}

_WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
          "mike november oscar papa quebec romeo sierra tango uniform victor").split()

_tables = None


def sf_dir():
    """The sf0.1 test tables graft.Bench reads by default, as written in
    Bench.scala (run from the root of a checkout). The environment does not
    override it, so a caller cannot change the workload."""
    with open(os.path.join("src", "main", "scala", "graft", "Bench.scala")) as f:
        return re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', f.read()).group(1)


class _Column:
    """A table column the generators index at random: a value becomes a
    Python object only when it is drawn."""

    def __init__(self, arr):
        self._arr = arr.combine_chunks()

    def __len__(self):
        return len(self._arr)

    def __getitem__(self, i):
        return self._arr[i].as_py()


def tables():
    """The sf0.1 columns the generators draw from, loaded once per process."""
    global _tables
    if _tables is None:
        import pyarrow.parquet as pq

        def cols(name, names):
            t = pq.read_table(os.path.join(sf_dir(), name + ".parquet"), columns=names)
            return {c: _Column(t.column(c)) for c in names}
        _tables = {
            "orders": cols("orders", ["o_orderkey", "o_custkey", "o_orderstatus",
                                      "o_totalprice", "o_orderdate", "o_orderpriority"]),
            "customer": cols("customer", ["c_custkey", "c_name", "c_nationkey",
                                          "c_acctbal", "c_mktsegment"]),
            "lineitem": cols("lineitem", ["l_partkey", "l_quantity", "l_extendedprice",
                                          "l_discount", "l_returnflag"]),
            "events": cols("events", ["event_id", "ts", "user_id", "event_type",
                                      "value", "props"]),
            "nation": cols("nation", ["n_nationkey", "n_name", "n_regionkey"]),
        }
    return _tables


def _iso(ts):
    return ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def _line(obj):
    return _DUMPS(obj) + "\n"


def schema_line(stream, schema):
    return _line({"type": "SCHEMA", "stream": stream, "schema": schema,
                  "key_properties": KEYS[stream]})


def _record_line(stream, rec, extracted):
    return _line({"type": "RECORD", "stream": stream, "record": rec,
                  "time_extracted": extracted})


def _state_line(value):
    return _line({"type": "STATE", "value": value})


# ---------------------------------------------------------------- flattening

def _types(prop):
    t = prop.get("type")
    if t is None:
        return []
    return [t] if isinstance(t, str) else [x for x in t if x != "null"]


def flatten(rec, schema):
    """Expected output row of one record under `schema` (engine semantics)."""
    out = {}
    _flatten_into(out, rec, schema["properties"], "")
    for k, v in rec.items():
        if k not in schema["properties"]:
            out[k] = v
    return out


def _flatten_into(out, rec, props, prefix):
    for k, p in props.items():
        name = prefix + k
        v = None if rec is None else rec.get(k)
        ts = _types(p)
        if "object" in ts:
            _flatten_into(out, v, p.get("properties", {}), name + "__")
        elif "array" in ts:
            out[name] = None if v is None else str(v)
        elif "number" in ts and "integer" not in ts and v is not None:
            out[name] = float(v)
        else:
            out[name] = v


def row_digest(row):
    """64-bit digest of a flattened row; null columns are left out, so a
    column absent from one epoch's files equals an explicit null."""
    items = sorted((k, v) for k, v in row.items() if v is not None)
    h = hashlib.blake2b(_DUMPS(items).encode("utf-8"), digest_size=8)
    return int.from_bytes(h.digest(), "little")


class Expected:
    """Accumulates per-stream row count and checksum while records are made."""

    def __init__(self):
        self.streams = {}

    def add(self, stream, rec, schema):
        s = self.streams.setdefault(stream, {"rows": 0, "checksum": 0,
                                             "key": KEYS[stream]})
        s["rows"] += 1
        s["checksum"] = (s["checksum"] + row_digest(flatten(rec, schema))) % (1 << 64)

    def manifest(self, final_bookmark, records, nbytes):
        streams = {k: dict(v, checksum="%016x" % v["checksum"])
                   for k, v in sorted(self.streams.items())}
        return {"streams": streams, "final_bookmark": final_bookmark,
                "records": records, "bytes": nbytes}


# ------------------------------------------------------------ batch_backfill

def _order_record(rng, t, i):
    o, c, li, n = t["orders"], t["customer"], t["lineitem"], t["nation"]
    cust = rng.randrange(len(c["c_custkey"]))
    nat = c["c_nationkey"][cust] % len(n["n_nationkey"])
    items = []
    for ln in range(1, rng.randint(1, 7) + 1):
        j = rng.randrange(len(li["l_partkey"]))
        items.append({"l_linenumber": ln, "l_partkey": li["l_partkey"][j],
                      "l_quantity": float(li["l_quantity"][j]),
                      "l_extendedprice": float(li["l_extendedprice"][j]),
                      "l_discount": float(li["l_discount"][j]),
                      "l_returnflag": li["l_returnflag"][j]})
    return {"o_orderkey": o["o_orderkey"][i], "o_orderstatus": o["o_orderstatus"][i],
            "o_totalprice": float(o["o_totalprice"][i]),
            "o_orderdate": _iso(o["o_orderdate"][i]),
            "o_orderpriority": o["o_orderpriority"][i],
            "customer": {"c_custkey": c["c_custkey"][cust], "c_name": c["c_name"][cust],
                         "c_mktsegment": c["c_mktsegment"][cust],
                         "nation": {"n_nationkey": n["n_nationkey"][nat],
                                    "n_name": n["n_name"][nat]}},
            "line_items": items}


def _event_record(rng, t, i):
    e = t["events"]
    return {"event_id": e["event_id"][i], "ts": _iso(e["ts"][i]), "user_id": e["user_id"][i],
            "event_type": e["event_type"][i], "value": round(float(e["value"][i]), 2),
            "props": e["props"][i], "session": rng.randrange(10000)}


def _customer_record(rng, t, i, v2):
    c, n, o = t["customer"], t["nation"], t["orders"]
    key = c["c_custkey"][i]
    nat = c["c_nationkey"][i] % len(n["n_nationkey"])
    bal = float(c["c_acctbal"][i])
    r = {"c_custkey": key, "c_name": c["c_name"][i], "c_nationkey": c["c_nationkey"][i],
         "c_acctbal": bal, "c_mktsegment": c["c_mktsegment"][i],
         "c_phone": "%02d-%03d-%03d-%04d" % (nat + 10, rng.randrange(1000),
                                             rng.randrange(1000), rng.randrange(10000)),
         "c_email": "user%d@example.com" % key,
         "c_address": "%d %s St" % (rng.randint(1, 9999), rng.choice(_WORDS).title()),
         "c_city": n["n_name"][nat],
         "c_postal": "%05d" % rng.randrange(100000),
         "c_signup": _iso(o["o_orderdate"][rng.randrange(len(o["o_orderdate"]))]),
         "c_tier": rng.choice(["bronze", "silver", "gold", "platinum"]),
         "c_credit_limit": float(rng.randrange(100, 50000)) + rng.randrange(100) / 100,
         "c_active": rng.random() < 0.8,
         "c_n_orders": rng.randrange(200),
         "c_last_order": _iso(o["o_orderdate"][rng.randrange(len(o["o_orderdate"]))]),
         "c_channel": rng.choice(["web", "store", "phone"]),
         "c_opt_in": rng.random() < 0.5,
         "c_region": n["n_regionkey"][nat],
         "c_balance_bucket": int(abs(bal)) // 100 * 100,
         "c_comment": " ".join(rng.choice(_WORDS) for _ in range(rng.randint(2, 9))),
         "c_score": round(rng.uniform(0, 100), 3),
         "c_birth_year": rng.randint(1930, 2005),
         "c_language": rng.choice(["en", "de", "fr", "es", "pt", "ja"])}
    if v2:
        r["c_loyalty_points"] = rng.randrange(100000)
    # Record-only fields, absent from both SCHEMA versions: inference keeps them.
    if rng.random() < 0.3:
        r["referral_code"] = "R%06d" % rng.randrange(1000000)
    if rng.random() < 0.05:
        r["_sdc_deleted_at"] = _iso(o["o_orderdate"][rng.randrange(len(o["o_orderdate"]))])
    return r


def batch_corpus(seed):
    """(corpus bytes, manifest) for batch_backfill: orders, events and
    customers interleaved, a customers SCHEMA re-emit half way, a STATE every
    STATE_EVERY records and one after the last record."""
    rng = random.Random(seed)
    t = tables()
    order_rows = rng.sample(range(len(t["orders"]["o_orderkey"])), N_ORDERS)
    event_rows = rng.sample(range(len(t["events"]["event_id"])), N_EVENTS)
    cust_rows = rng.sample(range(len(t["customer"]["c_custkey"])), N_CUSTOMERS)
    labels = ["o"] * N_ORDERS + ["e"] * N_EVENTS + ["c"] * N_CUSTOMERS
    rng.shuffle(labels)
    base = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)

    exp = Expected()
    parts = [schema_line("orders", ORDERS_SCHEMA), schema_line("events", EVENTS_SCHEMA),
             schema_line("customers", CUSTOMERS_SCHEMA_V1)]
    cust_schema = CUSTOMERS_SCHEMA_V1
    last = {}
    state = None
    counters = {"o": 0, "e": 0, "c": 0}
    for n, lab in enumerate(labels, 1):
        k = counters[lab]
        counters[lab] += 1
        extracted = _iso(base + datetime.timedelta(milliseconds=n))
        if lab == "o":
            stream, schema, rec = "orders", ORDERS_SCHEMA, _order_record(rng, t, order_rows[k])
            last[stream] = rec["o_orderkey"]
        elif lab == "e":
            stream, schema, rec = "events", EVENTS_SCHEMA, _event_record(rng, t, event_rows[k])
            last[stream] = rec["event_id"]
        else:
            if k == N_CUSTOMERS // 2:
                cust_schema = CUSTOMERS_SCHEMA_V2
                parts.append(schema_line("customers", cust_schema))
            stream, schema = "customers", cust_schema
            rec = _customer_record(rng, t, cust_rows[k], cust_schema is CUSTOMERS_SCHEMA_V2)
            last[stream] = rec["c_custkey"]
        parts.append(_record_line(stream, rec, extracted))
        exp.add(stream, rec, schema)
        if n % STATE_EVERY == 0 or n == len(labels):
            state = {"bookmarks": {s: {"last_key": v} for s, v in sorted(last.items())},
                     "seq": n}
            parts.append(_state_line(state))
    data = "".join(parts).encode("utf-8")
    return data, exp.manifest(state, len(labels), len(data))


# ----------------------------------------------------------------- live_tail

class LiveFeed:
    """Pages of a paginated-API tap: page k holds LIVE_PAGE_RECORDS issues and
    comments and ends with STATE {"bookmarks": {"page": k}}. Page 0 is the
    warm-up page and carries the two SCHEMA messages first."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.exp = Expected()
        self.records = 0
        self.nbytes = 0
        self.last_page = -1
        self._ev = tables()["events"]
        self._next_comment = 0

    def page(self, k):
        rng, ev = self.rng, self._ev
        parts = [schema_line("issues", ISSUES_SCHEMA),
                 schema_line("comments", COMMENTS_SCHEMA)] if k == 0 else []
        n_issues = 0
        for j in range(LIVE_PAGE_RECORDS):
            i = rng.randrange(len(ev["event_id"]))
            ts = _iso(ev["ts"][i])
            if rng.random() < 0.6:
                stream, schema = "issues", ISSUES_SCHEMA
                rec = {"issue_id": k * LIVE_PAGE_RECORDS + n_issues,
                       "user_id": ev["user_id"][i],
                       "state": rng.choice(["open", "closed"]),
                       "title": "%s %d" % (ev["event_type"][i], ev["event_id"][i]),
                       "priority": rng.randrange(5),
                       "score": round(float(ev["value"][i]), 2),
                       "updated_at": ts}
                n_issues += 1
            else:
                stream, schema = "comments", COMMENTS_SCHEMA
                rec = {"comment_id": self._next_comment,
                       "issue_id": rng.randrange(max(1, k * LIVE_PAGE_RECORDS)),
                       "user_id": ev["user_id"][i],
                       "body": " ".join(rng.choice(_WORDS) for _ in range(rng.randint(3, 12))),
                       "likes": rng.randrange(50),
                       "created_at": ts}
                self._next_comment += 1
            parts.append(_record_line(stream, rec, ts))
            self.exp.add(stream, rec, schema)
        parts.append(_state_line({"bookmarks": {"page": k}}))
        data = "".join(parts).encode("utf-8")
        self.records += LIVE_PAGE_RECORDS
        self.nbytes += len(data)
        self.last_page = k
        return data

    def manifest(self):
        return self.exp.manifest({"bookmarks": {"page": self.last_page}},
                                 self.records, self.nbytes)
