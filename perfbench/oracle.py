"""Independent expected results for each workload's output.

The log-path aggregates are recomputed in DuckDB from the staged parquet,
restating the pipeline's semantics (render → grok → severity → enrich →
route → count) in SQL, as ``tests/oracle.py::pipeline_oracle`` does in
Python. The dedup result is recomputed with numpy MinHash, LSH banding and
union-find. The sink outputs are compared against values recorded for a
fixed reference input (``sink_golden.json``).
"""

from __future__ import annotations

import json
import os
import re
from datetime import datetime, timezone

import duckdb
import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from opentelemetry_collector_contrib_spark.datamodel import SOURCE_LOOKUP_ROWS
from opentelemetry_collector_contrib_spark.operators.dedup import MERSENNE, PERM_A, PERM_B
from opentelemetry_collector_contrib_spark.sources.render import LEVELS

HERE = os.path.dirname(os.path.abspath(__file__))
SINK_GOLDEN = os.path.join(HERE, "sink_golden.json")


def _parquet_glob(staged_dir: str) -> str:
    return os.path.join(staged_dir, "*.parquet")


def logpath_aggregates(staged_dir: str) -> list[tuple]:
    """(route, source, severity_text, row_count, token_count), sorted.

    A line is malformed when tokens[2] % 97 == 0; it fails the grok and its
    severity falls to ``default``. Otherwise the level is LEVELS[tokens[1] % 7],
    which the default alias table maps to itself. Routes: acme when the
    enriched tier is prod, else globex when region is eu and n_tok > 128,
    else default (match-once)."""
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE levels(i INTEGER, level VARCHAR)")
        con.executemany("INSERT INTO levels VALUES (?, ?)", list(enumerate(LEVELS)))
        con.execute("CREATE TABLE lut(source VARCHAR, team VARCHAR, region VARCHAR, "
                    "tier VARCHAR, sample_pct DOUBLE)")
        con.executemany("INSERT INTO lut VALUES (?, ?, ?, ?, ?)", SOURCE_LOOKUP_ROWS)
        rows = con.execute(f"""
            WITH t AS (
              SELECT source, n_tok,
                     CASE WHEN tokens[2] % 97 = 0 THEN 'default'
                          ELSE (SELECT level FROM levels WHERE i = tokens[1] % 7) END
                       AS severity_text
              FROM read_parquet('{_parquet_glob(staged_dir)}')
            )
            SELECT CASE WHEN lut.tier = 'prod' THEN 'acme'
                        WHEN lut.region = 'eu' AND t.n_tok > 128 THEN 'globex'
                        ELSE 'default' END AS route,
                   t.source, t.severity_text,
                   COUNT(*) AS row_count, SUM(t.n_tok) AS token_count
            FROM t LEFT JOIN lut ON t.source = lut.source
            GROUP BY ALL ORDER BY ALL
        """).fetchall()
    finally:
        con.close()
    return [(r[0], r[1], r[2], int(r[3]), int(r[4])) for r in rows]


def _find(parent: np.ndarray, x: int) -> int:
    root = x
    while parent[root] != root:
        root = parent[root]
    while parent[x] != root:
        parent[x], x = root, parent[x]
    return root


def dedup_expected(staged_dir: str, num_perms: int = 8, rows_per_band: int = 2) -> dict:
    """Near-dup result of ``minhash_dedup`` recomputed with numpy: k-perm
    MinHash (x*A+B) mod 2^31-1, buckets on each band's raw values, the
    connected components of every in-bucket pair, min doc id kept per
    component. Returns kept/removed counts and the sum of kept row indices
    (doc-000000000042 → 42)."""
    table = pq.read_table(staged_dir, columns=["doc_id", "tokens"])
    ids = np.array([int(d[4:]) for d in table.column("doc_id").to_pylist()], dtype=np.int64)
    order = np.argsort(ids)
    ids = ids[order]
    tok = table.column("tokens").combine_chunks().take(order)
    offsets = tok.offsets.to_numpy()
    vals = tok.values.to_numpy().astype(np.int64)
    n = len(ids)
    lens = np.diff(offsets)
    nonempty = lens > 0
    sig = np.zeros((num_perms, n), dtype=np.int64)
    for i in range(num_perms):
        h = (vals * PERM_A[i % len(PERM_A)] + PERM_B[i % len(PERM_B)]) % MERSENNE
        sig[i, nonempty] = np.minimum.reduceat(h, offsets[:-1][nonempty])
    parent = np.arange(n)
    members = np.flatnonzero(nonempty)
    for b in range(num_perms // rows_per_band):
        keys = sig[b * rows_per_band:(b + 1) * rows_per_band, nonempty].T
        _, inv = np.unique(keys, axis=0, return_inverse=True)
        inv = inv.ravel()
        srt = np.argsort(inv, kind="stable")
        bounds = np.flatnonzero(np.diff(inv[srt])) + 1
        for grp in np.split(members[srt], bounds):
            if len(grp) < 2:
                continue
            grp = grp.tolist()
            root = _find(parent, grp[0])
            for c in grp[1:]:
                rc = _find(parent, c)
                if rc != root:
                    parent[max(rc, root)] = min(rc, root)
                    root = min(rc, root)
    roots = np.array([_find(parent, i) for i in range(n)])
    kept = roots == np.arange(n)
    return {
        "kept": int(kept.sum()),
        "removed": int(n - kept.sum()),
        "kept_idx_sum": int(ids[kept].sum()),
        "input": n,
    }


_JSON_SAFE = r"^[A-Za-z0-9 ./-]*$"


def _go_ns_timestamp(ns: int) -> str:
    """``2006-01-02T15:04:05.000000000Z`` in UTC, nine fractional digits."""
    sec, frac = divmod(ns, 10**9)
    return datetime.fromtimestamp(sec, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S") + f".{frac:09d}Z"


def _json_obj(pairs) -> str:
    """A JSON object of already-encoded values, in the given key order."""
    return "{" + ",".join(f'"{k}":{v}' for k, v in pairs) + "}"


def _uvarint_len(n: int) -> int:
    return max(1, (n.bit_length() + 6) // 7)


def _ld_len(n: int) -> int:
    """Size of a length-delimited protobuf field (field number < 16) whose
    payload is ``n`` bytes."""
    return 1 + _uvarint_len(n) + n


def _kv_len(key: str, value: str) -> int:
    """``KeyValue{key, AnyValue{string_value}}``."""
    return _ld_len(len(key)) + _ld_len(_ld_len(len(value)))


def _log_record_len(time_ns: int, sev_number: int, sev_text: str, body_bytes: int,
                    attrs: tuple) -> int:
    """``LogRecord`` proto3 bytes: fixed64 time, varint severity, severity
    text, AnyValue body, attributes; zero and empty fields omitted (the
    staged records have no trace or span id)."""
    n = 9 if time_ns else 0
    n += 1 + _uvarint_len(sev_number) if sev_number else 0
    n += _ld_len(len(sev_text)) if sev_text else 0
    n += _ld_len(_ld_len(body_bytes))
    return n + sum(_ld_len(_kv_len(k, v)) for k, v in attrs)


def _map_pairs(column) -> list[tuple]:
    """A map column as one sorted tuple of (key, value) pairs per row."""
    arr = column.combine_chunks()
    off = arr.offsets.to_numpy()
    keys, items = arr.keys.to_pylist(), arr.items.to_pylist()
    return [tuple(sorted(zip(keys[a:b], items[a:b]))) for a, b in zip(off[:-1], off[1:])]


def _text_lines(attrs: tuple, res: tuple, scope: str, sev_text: str, sev_number: int):
    """The loki line and the es bulk value of a record whose body and
    timestamp are empty: their sizes without the body and timestamp."""
    attrs_json = _json_obj((k, f'"{v}"') for k, v in attrs)
    loki = _json_obj([
        ("body", '""'), ("severity", f'"{sev_text}"'), ("attributes", attrs_json),
        ("resources", _json_obj((k, f'"{v}"') for k, v in res)),
        ("instrumentation_scope", _json_obj([("name", f'"{scope}"')])),
    ])
    # dedot: "service.name" nests as {"service":{"name":...}}
    nested: dict = {}
    for k, v in res:
        head, _, tail = k.partition(".")
        nested.setdefault(head, []).append((tail, f'"{v}"'))
    es = '{"create":{"_index":"logs-generic-default"}}\n' + _json_obj([
        ("@timestamp", '""'), ("Attributes", attrs_json), ("Body", '""'),
        ("Resource", _json_obj((h, _json_obj(kids)) for h, kids in sorted(nested.items()))),
        ("Scope", _json_obj([("name", f'"{scope}"'), ("version", '""')])),
        ("SeverityNumber", str(sev_number)), ("SeverityText", f'"{sev_text}"'),
        ("TraceFlags", "0"),
    ]) + "\n"
    return len(loki), len(es)


def sink_expected(staged_dir: str, kafka_splits: int) -> dict[str, list[int]]:
    """[messages, payload size] per exporter for the flat records staged in
    ``staged_dir``, restated from each exporter's output format: the size is
    in characters for string payloads and in bytes for binary ones.

    - logicmonitor ``message`` and clickhouse ``Body``: the record body;
    - loki ``line`` (json format): ``{"body","severity","attributes",
      "resources","instrumentation_scope":{"name"}}``;
    - es ``value``: the bulk ``create`` action line, then the document with
      sorted, dedotted keys and a nine-digit UTC ``@timestamp``;
    - kafka ``value`` (otlp_proto): one ``LogsData`` message per resource
      and hash shard, ``ResourceLogs{resource, ScopeLogs{scope, records}}``.

    The kafka shards are a hash of each record, so only the size of each
    shard's length prefixes is not restated exactly; the kafka size is
    returned as ``[messages, size, tolerance]``, the tolerance covering one
    byte of each of the two prefixes per message. Every resource is
    expected in every shard, which holds once each has a few dozen records
    per shard (the benchmark's inputs have hundreds).

    Bodies and map entries must be JSON-safe (letters, digits, spaces, dots,
    dashes and slashes), so no escaping is restated; other text raises."""
    table = pq.read_table(staged_dir)
    for name in ("body", "scope_name", "severity_text"):
        if not pc.all(pc.match_substring_regex(table[name], _JSON_SAFE)).as_py():
            raise ValueError(f"{name} holds text that would need escaping")
    cols = {c: table[c].to_pylist() for c in
            ("time_unix_nano", "severity_number", "severity_text", "body", "scope_name")}
    attrs, res = _map_pairs(table["attributes"]), _map_pairs(table["resource"])
    if not all(re.fullmatch(_JSON_SAFE, x) for kvs in set(attrs) | set(res)
               for kv in kvs for x in kv):
        raise ValueError("a map entry holds text that would need escaping")
    body_chars = sum(len(b) for b in cols["body"])
    loki = es = 0
    fixed: dict = {}
    groups: dict = {}
    for i, body in enumerate(cols["body"]):
        key = (attrs[i], res[i], cols["scope_name"][i], cols["severity_text"][i],
               cols["severity_number"][i])
        if key not in fixed:
            fixed[key] = _text_lines(*key)
        loki_fixed, es_fixed = fixed[key]
        loki += loki_fixed + len(body)
        es += es_fixed + len(body) + len(_go_ns_timestamp(cols["time_unix_nano"][i]))
        rec = _log_record_len(cols["time_unix_nano"][i], key[4], key[3], len(body.encode()),
                              attrs[i])
        group = (res[i], key[2])
        groups[group] = groups.get(group, 0) + _ld_len(rec)
    messages = size = 0
    for (res_kvs, scope), rec_bytes in groups.items():
        res_len = sum(_ld_len(_kv_len(k, v)) for k, v in res_kvs)
        shards = kafka_splits
        scope_header = _ld_len(_ld_len(len(scope)))
        scope_logs = scope_header + rec_bytes // shards
        resource_logs = _ld_len(res_len) + _ld_len(scope_logs)
        messages += shards
        # each shard's framing around its records; the records once
        size += shards * (_ld_len(resource_logs) - scope_logs + scope_header) + rec_bytes
    n = len(cols["body"])
    return {
        "logicmonitor": [n, body_chars],
        "clickhouse": [n, body_chars],
        "loki": [n, loki],
        "es": [n, es],
        "kafka": [messages, size, 2 * messages],
    }


def sink_golden() -> dict:
    with open(SINK_GOLDEN) as fh:
        return json.load(fh)
