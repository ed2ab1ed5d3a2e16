"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files and another seed writes different ones. The
program under test only ever sees the files. What the generator
injected (NULL keys, rule violators, duplicates) is returned as a
manifest, which the output checks compare against.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Traffic dimensions of each workload (also tabulated in README.md).
# The sales fact follows the reference's LargeDatasetGenerator
# (FIXTURES.md section 1): its columns, value ranges and cardinalities,
# with product and store keys drawn Zipf-skewed instead of round-robin.
SALES = {
    "rows": 200_000,  # base rows, before the injected duplicates
    "files": 8,
    "row_group_rows": 65_536,
    "products": 10_000,  # PROD-<n>, Zipf-skewed
    "stores": 500,  # Store-<n>, Zipf-skewed
    "zipf_a": 1.0,  # Zipf's law in its classic form, frequency ~ 1/rank
    "customers": 100_000,  # CUST-<id mod 100000>
    "regions": 50,  # Region-<id mod 50>
    "days": 365,  # sale_date = 2024-01-01 + (id mod 365)
    "null_key_share": 0.03,  # half NULL product_id, half NULL store_id
    "violation_share": 0.03,  # quantity <= 0, breaks the customRules rule
    "duplicate_share": 0.02,  # exact copies of clean rows
}
# Metric events in the reference's Kafka metrics payload (FIXTURES.md
# section 4), windowed as pipelines/streaming-metrics.yaml does.
METRICS = {
    "files": 4,  # one micro-batch each (maxFilesPerTrigger: 1)
    "rows_per_file": 5_000,  # the reference's 5K-record micro-batch (BASELINE.md)
    "window_s": 60,  # file i covers tumbling window i of event time
    "jitter_s": 20,  # events lag their window by up to this, under the watermark delay
    "watermark_s": 30,
}

METRIC_NAMES = np.array(["cpu_usage", "memory_usage"])
CATEGORIES = np.array(["Electronics", "Clothing", "Books", "Home", "Sports"])
STATUSES = np.array(["completed", "pending", "cancelled"])
STATUS_SHARES = [0.8, 0.1, 0.1]
EPOCH_2024 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
STREAM_T0 = EPOCH_2024 + 100 * 86_400

SALES_SCHEMA = pa.schema(
    [
        ("sale_id", pa.int64()),
        ("order_id", pa.string()),
        ("customer_id", pa.string()),
        ("product_id", pa.string()),
        ("quantity", pa.int32()),
        ("price", pa.decimal128(10, 2)),
        ("category", pa.string()),
        ("sale_date", pa.date32()),
        ("sale_timestamp", pa.timestamp("us", tz="UTC")),
        ("status", pa.string()),
        ("store_id", pa.string()),
        ("region", pa.string()),
    ]
)


def _zipf_keys(rng: np.random.Generator, n: int, cardinality: int, a: float) -> np.ndarray:
    """Zipf-skewed keys in 0..cardinality-1; key 0 is the hottest."""
    p = np.arange(1, cardinality + 1, dtype=np.float64) ** -a
    return rng.choice(cardinality, size=n, p=p / p.sum())


def _labels(prefix: str, keys: np.ndarray) -> np.ndarray:
    return np.char.add(prefix, keys.astype(str))


def _decimal_cents(cents: np.ndarray) -> pa.Array:
    """Non-negative int64 cents as decimal(10,2), without a float round trip."""
    words = np.zeros((len(cents), 2), dtype="<i8")
    words[:, 0] = cents
    return pa.Array.from_buffers(
        pa.decimal128(10, 2), len(cents), [None, pa.py_buffer(words.tobytes())]
    )


def sales(seed: int, out_dir: str) -> dict:
    """Sales fact in the reference LargeDatasetGenerator shape (12 columns):
    seeded NULL keys, ``quantity <= 0`` violators and exact duplicates,
    shuffled together and written as parquet parts."""
    p = SALES
    rng = np.random.default_rng([seed, 1])
    n = p["rows"]
    sale_id = np.arange(1, n + 1, dtype=np.int64)
    product = _labels("PROD-", _zipf_keys(rng, n, p["products"], p["zipf_a"]))
    store = _labels("Store-", _zipf_keys(rng, n, p["stores"], p["zipf_a"]))
    quantity = rng.integers(1, 11, n, dtype=np.int32)
    price_cents = rng.integers(1_000, 11_001, n, dtype=np.int64)
    category = CATEGORIES[rng.integers(0, len(CATEGORIES), n)]
    status = STATUSES[rng.choice(len(STATUSES), size=n, p=STATUS_SHARES)]
    sale_day = (EPOCH_2024 // 86_400 + sale_id % p["days"]).astype(np.int32)
    sale_us = (EPOCH_2024 + rng.integers(0, 86_400, n, dtype=np.int64)) * 1_000_000

    # disjoint injected sets: NULL product, NULL store, rule violators
    order = rng.permutation(n)
    n_null = int(n * p["null_key_share"])
    n_viol = int(n * p["violation_share"])
    null_product = np.zeros(n, dtype=bool)
    null_product[order[: n_null // 2]] = True
    null_store = np.zeros(n, dtype=bool)
    null_store[order[n_null // 2 : n_null]] = True
    quantity[order[n_null : n_null + n_viol]] = -rng.integers(0, 5, n_viol, dtype=np.int32)
    clean = order[n_null + n_viol :]

    # exact duplicates of clean rows (sale_id is unique, so every base
    # row is distinct), then one shuffle over everything
    n_dup = int(n * p["duplicate_share"])
    rows = rng.permutation(
        np.concatenate([np.arange(n), rng.choice(clean, size=n_dup, replace=False)])
    )
    table = pa.Table.from_arrays(
        [
            pa.array(sale_id[rows]),
            pa.array(_labels("ORD-", sale_id[rows])),
            pa.array(_labels("CUST-", sale_id[rows] % p["customers"])),
            pa.array(product[rows], mask=null_product[rows]),
            pa.array(quantity[rows]),
            _decimal_cents(price_cents[rows]),
            pa.array(category[rows]),
            pa.array(sale_day[rows], pa.date32()),
            pa.array(sale_us[rows], pa.timestamp("us", tz="UTC")),
            pa.array(status[rows]),
            pa.array(store[rows], mask=null_store[rows]),
            pa.array(_labels("Region-", sale_id[rows] % p["regions"])),
        ],
        schema=SALES_SCHEMA,
    )
    data_dir = os.path.join(out_dir, "sales")
    os.makedirs(data_dir)
    step = -(-table.num_rows // p["files"])
    for i in range(p["files"]):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(data_dir, f"part-{i:03d}.parquet"),
            row_group_size=p["row_group_rows"],
        )
    return {
        "rows": table.num_rows,
        "null_keys": n_null,
        "violators": n_viol,
        "duplicates": n_dup,
        "src": data_dir,
    }


def metrics(seed: int, out_dir: str) -> dict:
    """Metric events as JSON lines, one file per micro-batch. File ``i``
    holds events of tumbling window ``i``, each lagged by up to
    ``jitter_s`` (below the watermark delay, so no event is late)."""
    p = METRICS
    rng = np.random.default_rng([seed, 2])
    data_dir = os.path.join(out_dir, "events")
    os.makedirs(data_dir)
    n = p["rows_per_file"]
    for i in range(p["files"]):
        start_ms = (STREAM_T0 + i * p["window_s"]) * 1000
        ts_ms = (
            start_ms
            + rng.integers(0, p["window_s"] * 1000, n)
            - rng.integers(0, p["jitter_s"] * 1000, n)
        )
        ts = np.datetime_as_string(ts_ms.astype("datetime64[ms]"), unit="ms")
        metric = METRIC_NAMES[rng.integers(0, len(METRIC_NAMES), n)]
        value = np.round(rng.uniform(10.0, 60.0, n), 3)
        with open(os.path.join(data_dir, f"batch-{i:03d}.json"), "w", encoding="utf-8") as f:
            f.writelines(
                f'{{"ts":"{t}","metric":"{m}","value":{v:.3f}}}\n'
                for t, m, v in zip(ts, metric, value)
            )
    return {
        "rows": p["files"] * n,
        "files": p["files"],
        "src": data_dir,
    }


GENERATORS = {"quality_ingest": (sales, SALES), "stream_windowing": (metrics, METRICS)}


def ensure_inputs(workload: str, seed: int, root: str) -> tuple[dict, bool]:
    """Generate the workload's inputs for ``seed`` under ``root``, or reuse
    them when an earlier run left a complete set. Returns the manifest and
    whether it was generated now. The manifest is written last, so a set
    interrupted half-way is regenerated."""
    generate, params = GENERATORS[workload]
    digest = hashlib.sha1(json.dumps(params, sort_keys=True).encode()).hexdigest()[:10]
    out_dir = os.path.join(root, f"{workload}-{seed}-{digest}")
    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path, encoding="utf-8") as f:
            return json.load(f), False
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    manifest = generate(seed, out_dir)
    with open(manifest_path, "w", encoding="utf-8") as f:
        json.dump(manifest, f)
    return manifest, True
