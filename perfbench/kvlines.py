"""Seeded kayvee/syslog line generator and its DuckDB oracle.

Each generated line comes from one *source row* of plain attributes
(kind, host, app, value, ...). The line is rendered from the row; the
oracle computes the expected sink outputs from the rows with SQL and
never parses a line. A parse, route, projection or sink defect
therefore shows up as a mismatch between the two.

Line mix (shares of all lines, fixed; the seed picks which line gets
which kind and all attribute values). The shapes are those of the
kv01-kv06 queries; the shares are chosen, since the reference
publishes no traffic profile, with CloudWatch rows kept under 1%:

===========  =====  =================================================
kind         share  shape
===========  =====  =================================================
kvmeta       0.40   ``_kvmeta`` alert route, three dims, counter/gauge,
                    value_field absent on a fifth (kv01)
mongo        0.15   raw mongo slow-query text, two-route rule (kv02)
procmet      0.15   process-metrics body, a third with the ``guage``
                    typo (kv03)
badparse     0.03   not a syslog line: parse failure (kv04)
ignored      0.04   kayvee with zero routes (kv04)
badvalue     0.03   value_field holds a string: quarantined (kv04)
fanout       0.195  two alert routes, region set but series not
                    allowlisted, so tag stays ``default`` (kv06)
cw           0.005  allowlisted ``ContainerExitCount`` route with a
                    ``region``/``pod-region`` tag, plus a second route
                    (kv06): one CloudWatch datum per line
===========  =====  =================================================

Values are multiples of 1/8 below 1000, so every float sum is exact in
any order and the oracle can compare sums bit for bit.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timezone

KINDS: tuple[tuple[str, float], ...] = (
    ("kvmeta", 0.40),
    ("mongo", 0.15),
    ("procmet", 0.15),
    ("badparse", 0.03),
    ("ignored", 0.04),
    ("badvalue", 0.03),
    ("fanout", 0.195),
    ("cw", 0.005),
)

# Column order of a source row; the oracle table has these columns.
COLUMNS = (
    "line_no", "kind", "ts", "host", "app", "value", "district", "flag",
    "stat", "has_vf", "series", "op", "ns", "collscan", "ms", "src",
    "title", "region", "region_key", "num_bytes",
)

_BASE_TS = 1_760_000_000  # 2025-10-09, whole seconds
_REGIONS = ("us-west-1", "us-east-2")


def _pick(rng: random.Random) -> str:
    x = rng.random()
    acc = 0.0
    for kind, share in KINDS:
        acc += share
        if x < acc:
            return kind
    return KINDS[0][0]


def make_rows(seed: int, n: int) -> list[dict]:
    """``n`` source rows drawn from ``seed`` (same seed, same rows)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        kind = _pick(rng)
        row = dict.fromkeys(COLUMNS)
        row.update(
            line_no=i,
            kind=kind,
            ts=_BASE_TS + rng.randrange(0, 86_400),
            host=f"host{rng.randrange(7)}",
            app=f"app{rng.randrange(4)}",
            value=rng.randrange(0, 8000) / 8,
        )
        if kind == "kvmeta":
            row.update(
                district=f"d{rng.randrange(3)}",
                flag=rng.random() < 0.5,
                stat=rng.choice(("counter", "gauge")),
                has_vf=rng.random() >= 0.2,
                series=f"series-{rng.randrange(5)}",
            )
        elif kind == "mongo":
            row.update(
                host=f"mongo{rng.randrange(3)}",
                op=rng.choice(("query", "update", "remove")),
                ns=f"db{rng.randrange(5)}.coll{rng.randrange(7)}",
                collscan=rng.random() < 0.25,
                ms=rng.randrange(997),
            )
        elif kind == "procmet":
            row.update(
                src=f"src{rng.randrange(4)}",
                title=f"metric{rng.randrange(6)}",
                stat=rng.choice(("guage", "gauge", "counter")),
            )
        elif kind in ("fanout", "cw"):
            row.update(district=f"d{rng.randrange(3)}")
            if kind == "cw":
                row.update(
                    region=rng.choice(_REGIONS),
                    region_key=rng.choice(("region", "pod-region")),
                )
            else:
                row.update(region="eu-west-1", region_key="region")
        row["num_bytes"] = len(render(row).encode())
        rows.append(row)
    return rows


def _header(row: dict, host: str | None = None, prog: str | None = None) -> str:
    stamp = datetime.fromtimestamp(row["ts"], timezone.utc)
    return (
        f"{stamp:%Y-%m-%dT%H:%M:%S} {host or row['host']} "
        f"{prog or 'prod--' + row['app'] + '/arn'}[1]: "
    )


def _route(series: str, dims: list[str], stat: str, vf: str | None,
           rule: str) -> dict:
    r = {"type": "alerts", "series": series, "dimensions": dims,
         "stat_type": stat, "rule": rule}
    if vf is not None:
        r["value_field"] = vf
    return r


def _dumps(obj: dict) -> str:
    return json.dumps(obj, separators=(",", ":"))


def render(row: dict) -> str:
    """The syslog line for one source row."""
    kind = row["kind"]
    if kind == "badparse":
        return f"!! not a syslog line {row['line_no']} !!"
    if kind == "mongo":
        plan = "COLLSCAN" if row["collscan"] else "IXSCAN"
        return _header(row, prog="mongod") + (
            f"[conn{row['line_no']}] {row['op']} {row['ns']} "
            f"planSummary: {plan} {row['ms']}ms"
        )
    if kind == "procmet":
        return _header(row) + _dumps({
            "via": "process-metrics", "source": row["src"],
            "title": row["title"], "type": row["stat"],
            "value": row["value"],
        })
    if kind == "kvmeta":
        body = {
            "value": row["value"], "district": row["district"],
            "flag": row["flag"], "bucket": int(row["value"]),
            "_kvmeta": {"team": "t", "routes": [_route(
                row["series"], ["district", "flag", "bucket"], row["stat"],
                "value" if row["has_vf"] else None, "rule-k")]},
        }
        return _header(row) + _dumps(body)
    if kind == "ignored":
        return _header(row) + '{"_kvmeta":{"routes":[]}}'
    if kind == "badvalue":
        return _header(row) + _dumps({
            "value": "not-a-number",
            "_kvmeta": {"routes": [_route(
                "disposition", [], "counter", "value", "rule-d")]},
        })
    # fanout / cw: two gauge routes; only an allowlisted first route
    # lets the region dispatch the record to a regional tag.
    first = "ContainerExitCount" if kind == "cw" else "series-a"
    return _header(row) + _dumps({
        "value": row["value"], "district": row["district"],
        row["region_key"]: row["region"],
        "_kvmeta": {"team": "t", "routes": [
            _route(first, ["district"], "gauge", "value", "rule-m"),
            _route("series-b", ["district"], "gauge", "value", "rule-m"),
        ]},
    })


def write_files(rows: list[dict], out_dir: str, lines_per_file: int) -> None:
    """Render ``rows`` into files of ``lines_per_file`` lines under
    ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for k, start in enumerate(range(0, len(rows), lines_per_file)):
        write_file(rows[start:start + lines_per_file], out_dir, k)


def write_file(rows: list[dict], out_dir: str, index: int) -> None:
    """Atomically drop one line file: write a hidden temp name (the
    file source skips names starting with ``.``), then rename."""
    path = os.path.join(out_dir, f"part-{index:06d}.txt")
    tmp = os.path.join(out_dir, f".part-{index:06d}.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("\n".join(render(r) for r in rows) + "\n")
    os.replace(tmp, path)


# ------------------------------------------------------------ oracle

# Expected Datadog points, aggregated per (tag, metric, mtype, tags):
# the sink's dd/ output must hold exactly these groups.
DD_SQL = """
WITH pts AS (
  SELECT 'default' AS tag, 'kv.' || series AS metric,
         CASE WHEN stat = 'counter' THEN 'count' ELSE 'gauge' END AS mtype,
         'district:' || district || ',flag:' || CASE WHEN flag THEN 'true' ELSE 'false' END
           || ',bucket:' || CAST(CAST(floor(value) AS BIGINT) AS VARCHAR)
           || ',Hostname:' || host || ',env:production' AS tags,
         CASE WHEN has_vf THEN value WHEN stat = 'counter' THEN 1.0 ELSE 0.0 END AS value,
         ts
  FROM src WHERE kind = 'kvmeta'
  UNION ALL
  SELECT 'default', m.metric, m.mtype,
         'hostname:' || host || ',operation:' || op || ',namespace:' || ns
           || ',is_collscan:' || CASE WHEN collscan THEN 'true' ELSE 'false' END,
         CASE WHEN m.mtype = 'count' THEN 1.0 ELSE CAST(ms AS DOUBLE) END, ts
  FROM src, (VALUES ('kv.mongo.slow-query', 'count'),
                    ('kv.mongo.slow-query-millis', 'gauge')) m(metric, mtype)
  WHERE kind = 'mongo'
  UNION ALL
  SELECT 'default', 'kv.process-metrics.' || title,
         CASE WHEN stat = 'counter' THEN 'count' ELSE 'gauge' END,
         'Hostname:' || host || ',env:production,source:' || src, value, ts
  FROM src WHERE kind = 'procmet'
  UNION ALL
  SELECT CASE WHEN kind = 'cw' THEN region ELSE 'default' END,
         'kv.' || r.series, 'gauge',
         'district:' || district || ',Hostname:' || host || ',env:production',
         value, ts
  FROM src, LATERAL (
    SELECT CASE WHEN kind = 'cw' THEN 'ContainerExitCount' ELSE 'series-a' END
    UNION ALL SELECT 'series-b') r(series)
  WHERE kind IN ('fanout', 'cw'))
SELECT tag, metric, mtype, tags, COUNT(*) AS n, SUM(value) AS sum_value,
       MIN(ts) AS first_ts, MAX(ts) AS last_ts
FROM pts GROUP BY ALL ORDER BY ALL
"""

# Expected CloudWatch data: one per cw line, on its regional tag.
CW_SQL = """
SELECT region AS tag, 'ContainerExitCount' AS metric_name,
       'district=' || district AS dims, COUNT(*) AS n, SUM(value) AS sum_value
FROM src WHERE kind = 'cw' GROUP BY ALL ORDER BY ALL
"""

# Expected quarantine rows: every parse failure and wrong-typed value,
# as a row count and the byte total of their raw lines.
QUARANTINE_SQL = """
SELECT COUNT(*) AS n, SUM(num_bytes) AS bytes
FROM src WHERE kind IN ('badparse', 'badvalue')
"""

# Expected A1 volume totals per (env, app): parse failures have no
# programname and count as unknown/unknown; mongod carries no ECS env.
VOLUME_SQL = """
SELECT CASE WHEN kind IN ('badparse', 'mongo') THEN 'unknown' ELSE 'prod' END AS env,
       CASE WHEN kind IN ('badparse', 'mongo') THEN 'unknown' ELSE app END AS app,
       COUNT(*) AS cnt, SUM(num_bytes) AS size
FROM src GROUP BY ALL ORDER BY ALL
"""

ORACLE = {"dd": DD_SQL, "cw": CW_SQL, "quarantine": QUARANTINE_SQL,
          "volume": VOLUME_SQL}

# The same aggregates over what the sinks wrote.
_SUNK = {
    "dd": """
SELECT tag, metric, mtype, array_to_string(tags, ',') AS tags, COUNT(*) AS n,
       SUM(value) AS sum_value, MIN(ts) AS first_ts, MAX(ts) AS last_ts
FROM read_parquet('{out}/dd/**/*.parquet', hive_partitioning = true,
                  hive_types = {{'tag': VARCHAR, 'batch_id': BIGINT}})
GROUP BY ALL ORDER BY ALL
""",
    "cw": """
SELECT tag, metric_name,
       array_to_string(list_transform(dimensions, d -> d.name || '=' || d.value), ',')
         AS dims, COUNT(*) AS n, SUM(value) AS sum_value
FROM read_parquet('{out}/cw/**/*.parquet', hive_partitioning = true,
                  hive_types = {{'tag': VARCHAR}})
GROUP BY ALL ORDER BY ALL
""",
    "quarantine": """
SELECT COUNT(*) AS n, SUM(octet_length(CAST(_raw AS BLOB))) AS bytes
FROM read_parquet('{out}/quarantine/**/*.parquet')
""",
    "volume": """
SELECT env, app, CAST(SUM(cnt) AS BIGINT) AS cnt, CAST(SUM(size) AS BIGINT) AS size
FROM read_parquet('{vol}/**/*.parquet') GROUP BY ALL ORDER BY ALL
""",
}


def expected(rows: list[dict]) -> dict[str, list[tuple]]:
    """Oracle results from the source rows alone."""
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    try:
        con.register("src", pa.Table.from_pylist(rows))
        return {name: [tuple(r) for r in con.execute(sql).fetchall()]
                for name, sql in ORACLE.items()}
    finally:
        con.close()


def observed(out_dir: str, vol_dir: str | None = None) -> dict[str, list[tuple]]:
    """The oracle's aggregates over the sink's output directories. A
    sink directory with no parquet files reads as no rows."""
    import glob

    import duckdb

    con = duckdb.connect()
    try:
        got = {}
        for name, sql in _SUNK.items():
            base = vol_dir if name == "volume" else os.path.join(out_dir, name)
            if base is None:
                continue
            if not glob.glob(os.path.join(base, "**", "*.parquet"),
                             recursive=True):
                got[name] = [(0, None)] if name == "quarantine" else []
                continue
            got[name] = [tuple(r) for r in con.execute(
                sql.format(out=out_dir, vol=vol_dir)).fetchall()]
        return got
    finally:
        con.close()


def dlq_batches(out_dir: str) -> int:
    """Batches the sink parked in its failed-batch DLQ."""
    failed = os.path.join(out_dir, "failed")
    if not os.path.isdir(failed):
        return 0
    return sum(1 for d in os.listdir(failed) if d.startswith("batch_id="))
