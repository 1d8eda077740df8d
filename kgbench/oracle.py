"""DuckDB oracle for the final triple set, cached per (SQL, weights, inputs).

    python3 kgbench/oracle.py --inputs DIR --cache DIR [--rebuild]

Runs the package's `final_triples_sql()` under DuckDB over the input
tables in DIR and prints the path of a parquet file holding the result.
The SQL is generated with the pattern-weight table the engine itself
loads (`extractors._pattern_weights()`; an empty table means every
pattern votes the uniform 0.9 fallback), so the oracle and the engine
score the same weights. The result is cached under a key made of the
SQL text, that table and the bytes of the input tables; `--rebuild`
recomputes it.

The SQL text is executed as generated, with DuckDB's optimizer off:
with it on, DuckDB spends ~20 s planning this ~80 KB query on a 4-core
host; off, the whole query runs in ~8 s at 1,500 turns with the same
rows. It needs ~1.9 GB, so run.py starts it in its own process and only
after its Spark session has stopped.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_TABLES = ("nation", "customer", "orders")


def engine_weights() -> dict[str, float]:
    from stanford_relation_extractor_spark.operators.extractors import _pattern_weights

    return dict(sorted(_pattern_weights().items()))


def weights_name(weights: dict[str, float]) -> str:
    if not weights:
        return "uniform-0.9"
    return "rules-" + hashlib.sha256(json.dumps(weights).encode()).hexdigest()[:12]


def oracle_sql(weights: dict[str, float]) -> str:
    """`final_triples_sql()` with its weight lookup bound to ``weights``."""
    from stanford_relation_extractor_spark.sources import oracle_rules, rulesfiles

    saved = rulesfiles.relation_pattern_weights
    rulesfiles.relation_pattern_weights = lambda *_a, **_k: dict(weights)
    try:
        return oracle_rules.final_triples_sql()
    finally:
        rulesfiles.relation_pattern_weights = saved


def cache_key(sql: str, weights: dict[str, float], inputs: str) -> str:
    h = hashlib.sha256(sql.encode())
    h.update(json.dumps(weights).encode())
    for t in SOURCE_TABLES:
        with open(os.path.join(inputs, f"{t}.parquet"), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:24]


def build(inputs: str, out: str, sql: str, tmp: str) -> None:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{tmp}'")
        for t in SOURCE_TABLES:
            path = os.path.join(inputs, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        con.execute("PRAGMA disable_optimizer")
        df = con.execute(sql).df()
    finally:
        con.close()
    part = out + ".part"
    df.to_parquet(part, index=False)
    os.replace(part, out)


def cached(inputs: str, cache: str) -> tuple[str, str, str]:
    """(cache path, SQL, weight-table name) for these inputs under the
    engine's current weights; the path may not exist yet."""
    weights = engine_weights()
    sql = oracle_sql(weights)
    path = os.path.join(cache, f"final_triples_{cache_key(sql, weights, inputs)}.parquet")
    return path, sql, weights_name(weights)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--rebuild", action="store_true")
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    out, sql, weights = cached(args.inputs, args.cache)
    if args.rebuild or not os.path.exists(out):
        tmp = os.path.join(args.cache, "duckdb_tmp")
        os.makedirs(tmp, exist_ok=True)
        build(args.inputs, out, sql, tmp)
    print(json.dumps({"path": out, "weights": weights}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
