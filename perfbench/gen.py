"""Seeded input generator for the benchmark.

Everything the program under test sees is written here, from one
``numpy.random.Generator`` per input, so the same seed gives
byte-identical files (``digest`` proves it). Nothing here imports
Spark: inputs are plain parquet files built with pyarrow.

Inputs:

- the billing-export source (``schemas.BILLING_EXPORT_SCHEMA``), sorted
  by ``export_time`` with strictly increasing microsecond timestamps, in
  several row groups;
- per-tick Pub/Sub envelope batches (valid tenants, one unknown org and
  a seeded share of malformed envelopes);
- the tenant config table (``schemas.CONFIG_SCHEMA``);
- checkpoint-log history in the log's own on-disk shape: one one-row
  parquet file per status append (``schemas.CHECKPOINT_SCHEMA``);
- the catalog's star schema + corpus tables (``sources.registry.TABLES``).
"""

from __future__ import annotations

import base64
import datetime as dt
import hashlib
import json
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

UTC = dt.timezone.utc
#: simulated clock origin of the billing source
T0 = dt.datetime(2024, 3, 1)
HOUR_US = 3_600_000_000

_SERVICES = ["Compute Engine", "Cloud Storage", "BigQuery", "Cloud SQL", "Pub/Sub", "Networking"]
_SKUS = [f"SKU-{i:04X}" for i in range(48)]
_UNITS = ["seconds", "bytes", "requests", "byte-seconds"]
_REGIONS = ["us-central1", "us-east1", "europe-west1", "asia-east1", "australia-southeast1"]
_COUNTRIES = ["US", "US", "BE", "TW", "AU"]
_CURRENCIES = ["USD", "EUR", "JPY"]
_COST_TYPES = ["regular", "tax", "adjustment", "rounding_error"]
_CREDIT_TYPES = ["SUSTAINED_USAGE_DISCOUNT", "COMMITTED_USAGE_DISCOUNT", "PROMOTION", "FREE_TIER"]
_LABEL_KEYS = ["env", "team", "app", "tier", "cost-center"]
_LABEL_VALUES = ["prod", "dev", "staging", "data", "web", "batch", "gold", "a1", "b2"]


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, input name): adding an input
    never shifts the draws of another."""
    key = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(key[:8], "little"))


def _take(vocab: list[str], codes: np.ndarray) -> pa.Array:
    return pc.take(pa.array(vocab, pa.string()), pa.array(codes, pa.int32()))


def _struct(fields: dict[str, pa.Array]) -> pa.StructArray:
    return pa.StructArray.from_arrays(list(fields.values()), names=list(fields))


def _list_of(rng: np.random.Generator, n: int, max_len: int, make) -> pa.ListArray:
    """array<struct> column with 0..max_len elements per row; ``make(k)``
    builds the k flattened child elements."""
    lens = rng.integers(0, max_len + 1, n)
    offsets = np.zeros(n + 1, np.int32)
    np.cumsum(lens, out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets), make(int(offsets[-1])))


def billing_chunk(rng: np.random.Generator, export_us: np.ndarray, schema: pa.Schema) -> pa.Table:
    """Billing-export rows for the given ``export_time`` values (µs since
    the Unix epoch, UTC)."""
    n = len(export_us)
    ri = lambda hi, size=n: rng.integers(0, hi, size)  # noqa: E731
    ts = lambda us: pa.array(us, pa.timestamp("us", tz="UTC"))  # noqa: E731

    def kv(k: int) -> pa.StructArray:
        return _struct({"key": _take(_LABEL_KEYS, ri(len(_LABEL_KEYS), k)),
                        "value": _take(_LABEL_VALUES, ri(len(_LABEL_VALUES), k))})

    svc = ri(len(_SERVICES))
    sku = ri(len(_SKUS))
    proj = ri(40)
    loc = ri(len(_REGIONS))
    start_us = export_us - ri(3 * HOUR_US) - HOUR_US
    amount = np.round(rng.gamma(2.0, 50.0, n), 4)
    cost = np.round(amount * rng.uniform(0.001, 0.05, n), 6)
    cols = {
        "billing_account_id": _take([f"01ABCD-{i:06d}-EF{i % 97:02d}" for i in range(12)], ri(12)),
        "service": _struct({"id": _take([f"svc-{i}" for i in range(len(_SERVICES))], svc),
                            "description": _take(_SERVICES, svc)}),
        "sku": _struct({"id": _take(_SKUS, sku),
                        "description": _take([f"{s} usage" for s in _SKUS], sku)}),
        "usage_start_time": ts(start_us),
        "usage_end_time": ts(start_us + HOUR_US),
        "project": _struct({
            "id": _take([f"project-{i:03d}" for i in range(40)], proj),
            "number": _take([str(100000000 + 7919 * i) for i in range(40)], proj),
            "name": _take([f"Project {i}" for i in range(40)], proj),
            "labels": _list_of(rng, n, 2, kv),
            "ancestry_numbers": _take([f"/{i % 4}/{i}/" for i in range(40)], proj),
            "ancestors": _list_of(rng, n, 2, lambda k: _struct({
                "resource_name": _take([f"folders/{i}" for i in range(8)], ri(8, k)),
                "display_name": _take([f"folder {i}" for i in range(8)], ri(8, k))})),
        }),
        "labels": _list_of(rng, n, 3, kv),
        "system_labels": _list_of(rng, n, 1, kv),
        "location": _struct({"location": _take(_REGIONS, loc), "country": _take(_COUNTRIES, loc),
                             "region": _take(_REGIONS, loc),
                             "zone": _take([f"{r}-a" for r in _REGIONS], loc)}),
        "tags": _list_of(rng, n, 1, lambda k: _struct({
            "key": _take(_LABEL_KEYS, ri(len(_LABEL_KEYS), k)),
            "value": _take(_LABEL_VALUES, ri(len(_LABEL_VALUES), k)),
            "inherited": pa.array(ri(2, k).astype(bool)),
            "namespace": _take(["org/1", "org/2"], ri(2, k))})),
        "transaction_type": _take(["GOOGLE", "THIRD_PARTY_RESELLER"], ri(2)),
        "seller_name": _take(["Google", "Reseller Inc"], ri(2)),
        "export_time": ts(export_us),
        "cost": pa.array(cost),
        "currency": _take(_CURRENCIES, ri(len(_CURRENCIES))),
        "currency_conversion_rate": pa.array(np.round(rng.uniform(0.5, 150.0, n), 4)),
        "usage": _struct({"amount": pa.array(amount), "unit": _take(_UNITS, sku % len(_UNITS)),
                          "amount_in_pricing_units": pa.array(np.round(amount / 3600.0, 6)),
                          "pricing_unit": _take(["hour", "gibibyte", "count"], sku % 3)}),
        "credits": _list_of(rng, n, 2, lambda k: _struct({
            "name": _take(_CREDIT_TYPES, ri(len(_CREDIT_TYPES), k)),
            "amount": pa.array(-np.round(rng.uniform(0.0, 1.0, k), 6)),
            "full_name": _take([c.title() for c in _CREDIT_TYPES], ri(len(_CREDIT_TYPES), k)),
            "id": _take([f"credit-{i}" for i in range(16)], ri(16, k)),
            "type": _take(_CREDIT_TYPES, ri(len(_CREDIT_TYPES), k))})),
        "invoice": _struct({"month": _take([f"2024{m:02d}" for m in range(1, 13)], ri(12)),
                            "publisher_type": _take(["GOOGLE", "PARTNER"], ri(2))}),
        "cost_type": _take(_COST_TYPES, ri(len(_COST_TYPES))),
        "adjustment_info": _struct({"id": _take([f"adj-{i}" for i in range(8)], ri(8)),
                                    "description": _take(["none", "correction"], ri(2)),
                                    "mode": _take(["MANUAL", "AUTO"], ri(2)),
                                    "type": _take(["GENERAL", "CREDIT"], ri(2))}),
        "cost_at_list": pa.array(np.round(cost * 1.1, 6)),
    }
    return pa.Table.from_arrays([cols[f.name] for f in schema], schema=schema)


def arrow_billing_schema() -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    from bigquery_cross_environment_etl_pipeline_spark.schemas import BILLING_EXPORT_SCHEMA

    return to_arrow_schema(BILLING_EXPORT_SCHEMA)


def export_times(rng: np.random.Generator, start: dt.datetime, n_rows: int, hours: float) -> np.ndarray:
    """``n_rows`` strictly increasing µs timestamps spread over ``hours``
    from ``start`` (unique, so ``export_time`` keys a row)."""
    span = int(hours * HOUR_US)
    gaps = rng.integers(1, max(2, 2 * span // max(n_rows, 1)), n_rows)
    base = int(start.replace(tzinfo=UTC).timestamp()) * 1_000_000
    return base + np.cumsum(gaps)


def write_billing_source(
    path: str, seed: int, n_rows: int, hours: float, row_group_rows: int
) -> tuple[dict, np.ndarray]:
    """Write the billing-export source as one parquet file sorted by
    ``export_time``; returns its summary (rows, row groups, time range)
    and the ``export_time`` values (µs)."""
    rng = rng_for(seed, "billing")
    us = export_times(rng, T0, n_rows, hours)
    schema = arrow_billing_schema()
    os.makedirs(path, exist_ok=True)
    with pq.ParquetWriter(os.path.join(path, "part-00000.parquet"), schema) as w:
        for lo in range(0, n_rows, row_group_rows):
            w.write_table(billing_chunk(rng, us[lo:lo + row_group_rows], schema),
                          row_group_size=row_group_rows)
    info = {"rows": n_rows, "row_groups": -(-n_rows // row_group_rows),
            "first_us": int(us[0]), "last_us": int(us[-1])}
    return info, us


# --- control-plane inputs ---------------------------------------------------


def envelope(payload: dict | str) -> str:
    """``{"message": {"data": base64(json)}}`` Pub/Sub push envelope."""
    raw = payload if isinstance(payload, str) else json.dumps(payload)
    return json.dumps({"message": {"data": base64.b64encode(raw.encode()).decode()}})


#: malformed envelope kinds — each must be rejected by the decoder
_MALFORMED = [
    lambda i: json.dumps({"message": {"attributes": {"n": i}}}),  # no data
    lambda i: envelope(f"not json {i}"),  # data is not JSON
    lambda i: envelope({"project_id": f"p{i}"}),  # JSON without org_id
    lambda i: envelope({"org_id": f"org-{i}"}),  # org_id not an integer
    lambda i: f"{{\"message\": {{\"data\": \"{i}",  # truncated envelope JSON
]


def write_envelopes(path: str, seed: int, tick: int, orgs: list[int], unknown_org: int,
                    malformed_share: float) -> int:
    """One tick's envelope batch as a one-column (``body``) parquet file:
    one envelope per configured org, one for ``unknown_org`` and
    ``round(malformed_share * len(orgs))`` malformed ones, shuffled.
    Returns the number of malformed envelopes."""
    rng = rng_for(seed, f"envelopes:{tick}")
    n_bad = int(round(malformed_share * len(orgs)))
    bodies = [envelope({"org_id": o}) for o in orgs] + [envelope({"org_id": unknown_org})]
    bodies += [_MALFORMED[int(k)](tick * 100 + j)
               for j, k in enumerate(rng.integers(0, len(_MALFORMED), n_bad))]
    bodies = [bodies[i] for i in rng.permutation(len(bodies))]
    pq.write_table(pa.table({"body": pa.array(bodies, pa.string())}), path)
    return n_bad


def write_config(path: str, orgs: list[int]) -> None:
    """Tenant config rows (``schemas.CONFIG_SCHEMA``) for ``orgs``."""
    os.makedirs(path, exist_ok=True)
    s = lambda fmt: pa.array([fmt.format(o) for o in orgs], pa.string())  # noqa: E731
    table = pa.table({
        "org_id": pa.array(orgs, pa.int64()),
        "projectid": s("proj-{}"),
        "billingdataset": s("billing_{}"),
        "tableid": s("gcp_billing_export_{}"),
        "pulsebillingdataset": s("pulse_{}"),
        "pulsetableid": s("pulse_table_{}"),
        "customerserviceaccountid": s("sa-{}@example.iam"),
    })
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def write_checkpoint_history(path: str, seed: int, start_wm: dict[int, dt.datetime],
                             project_ids: dict[int, str], ticks: int) -> int:
    """Pre-seed the checkpoint log with ``ticks`` prior runs per tenant,
    each an IN_PROGRESS append then SUCCESS (a seeded few FAILED and
    re-run first), one one-row parquet file per append as the log
    itself writes them. The last SUCCESS of tenant ``o`` carries
    ``start_wm[o]``. Returns the number of files written."""
    rng = rng_for(seed, "history")
    schema = pa.schema([("org_id", pa.int64()), ("project_id", pa.string()),
                        ("status", pa.string()), ("end_date_time", pa.timestamp("us", tz="UTC")),
                        ("updated_at", pa.timestamp("us", tz="UTC"))])
    os.makedirs(path, exist_ok=True)
    n = 0
    for org in sorted(start_wm):
        for k in range(ticks, 0, -1):
            wm = start_wm[org] - dt.timedelta(hours=k - 1)
            run_at = wm.replace(tzinfo=UTC) + dt.timedelta(minutes=1)
            rows = [("IN_PROGRESS", None)]
            if rng.random() < 0.1:
                rows += [("FAILED", None), ("IN_PROGRESS", None)]
            rows.append(("SUCCESS", wm.replace(tzinfo=UTC)))
            for status, end in rows:
                table = pa.Table.from_pylist(
                    [{"org_id": org, "project_id": project_ids[org], "status": status,
                      "end_date_time": end, "updated_at": run_at}], schema=schema)
                name = uuid.UUID(bytes=rng.bytes(16), version=4)
                pq.write_table(table, os.path.join(path, f"part-00000-{name}-c000.snappy.parquet"))
                n += 1
    return n


def digest(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes), in
    sorted order: the run's input fingerprint."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def input_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)


# --- catalog tables ---------------------------------------------------------

_WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark line "
          "sort window data column join small customer query order stream filter group "
          "big vector").split()
_PART_ADJ = ["small", "red", "blue", "hot", "cold", "old", "new", "big"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "nut"]


def _days(rng: np.random.Generator, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    base = (lo - dt.date(1970, 1, 1)).days
    d = base + rng.integers(0, (hi - lo).days + 1, n)
    return pa.array(d.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words corpus; a seeded 5% are near-duplicates (a few words
    edited) of an earlier document so the dedup operators find pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[int(j)] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[int(k)] for k in rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    langs = np.array(["en", "en", "en", "zh", "de", "fr", "es"])[rng.integers(0, 7, n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    labels = rng.integers(0, k, n)
    centres = rng.normal(0.0, 1.0, (k, dim))
    vecs = centres[labels] + rng.normal(0.0, 1.5, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def catalog_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The catalog's ten tables (``sources.registry.TABLES``) at scale
    ``sf``, with the column names and types the catalog reads."""
    r = lambda name: rng_for(seed, f"catalog:{name}")  # noqa: E731
    n_cust, n_supp, n_part = int(150_000 * sf), max(25, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(min(50_000 * sf, 2_000))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    g = r("customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(g, -999.99, 9999.99, n_cust),
        "c_mktsegment": _take(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"],
                              g.integers(0, 5, n_cust))})
    g = r("supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(g, -999.99, 9999.99, n_supp)})
    g = r("part")
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _take([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN], g.integers(0, 64, n_part)),
        "p_brand": _take([f"Brand#{i}" for i in range(1, 26)], g.integers(0, 25, n_part)),
        "p_type": _take(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], g.integers(0, 6, n_part)),
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    g = r("orders")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _take(["P", "O", "F"], g.integers(0, 3, n_ord)),
        "o_totalprice": _money(g, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(g, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": _take(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                                 g.integers(0, 5, n_ord))})
    g = r("lineitem")
    qty = g.integers(1, 51, n_line).astype(np.float64)
    part = g.integers(0, n_part, n_line)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(g.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(part, pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(g.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (part % 1000) / 10.0) * g.uniform(1.0, 2.1, n_line), 2),
        "l_discount": g.integers(0, 11, n_line) / 100.0,
        "l_tax": g.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _take(["A", "N", "R"], g.integers(0, 3, n_line)),
        "l_linestatus": _take(["O", "F"], g.integers(0, 2, n_line)),
        "l_shipdate": _days(g, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line)})
    g = r("events")
    base = int(dt.datetime(2024, 1, 1, tzinfo=UTC).timestamp()) * 1_000_000
    ts = base + np.sort(g.integers(0, 30 * 24 * HOUR_US, n_evt))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, max(1, int(150_000 * sf / 10)), n_evt), pa.int64()),
        "event_type": _take(["click", "signup", "error", "view", "purchase"], g.integers(0, 5, n_evt)),
        "value": np.round(g.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_evt)]})
    out["documents"] = _documents(r("documents"), n_doc)
    out["embeddings"] = _embeddings(r("embeddings"), n_emb)
    return out


def write_catalog(sf_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every catalog table as ``<sf_dir>/<name>.parquet``; returns
    rows per table."""
    os.makedirs(sf_dir, exist_ok=True)
    rows = {}
    for name, table in catalog_tables(seed, sf).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
