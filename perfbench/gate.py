"""Correctness gate: the replayed table must equal the LWW final state that
DuckDB computes independently from the generated binlog parquet."""

from __future__ import annotations

import tempfile

PAYLOAD = ["doc_id", "tokens", "n_tok", "source"]
_DIGEST = f"count(*) AS n, sum(hash({', '.join(PAYLOAD)})::HUGEINT) AS h"


def _connect():
    import duckdb

    return duckdb.connect(config={"threads": 2, "memory_limit": "1GB",
                                  "temp_directory": tempfile.gettempdir()})


def expected_state(binlog_dirs: list[str]) -> tuple[int, int]:
    """(rows, order-independent hash) of the LWW final state: per doc_id
    the max (seq_lsn, event_id) event, 'D' winners dropped."""
    con = _connect()
    try:
        files = [f"{d}/*.parquet" for d in binlog_dirs]
        row = con.execute(f"""
            WITH w AS (
              SELECT * FROM read_parquet(?)
              QUALIFY row_number() OVER (
                PARTITION BY doc_id ORDER BY seq_lsn DESC, event_id DESC) = 1)
            SELECT {_DIGEST} FROM w WHERE op <> 'D'""", [files]).fetchone()
    finally:
        con.close()
    return int(row[0]), int(row[1] or 0)


def actual_state(table) -> tuple[int, int]:
    """(rows, hash) of `table.read()`, hashed by the same DuckDB function
    over the Arrow export so both sides compare bit for bit."""
    arrow = table.read().select(*PAYLOAD).toArrow()
    con = _connect()
    try:
        con.register("t", arrow)
        row = con.execute(f"SELECT {_DIGEST} FROM t").fetchone()
    finally:
        con.close()
    return int(row[0]), int(row[1] or 0)


def check(driver, binlog_dirs: list[str], expected_ids: list[int]) -> dict:
    """Every check of one run, each {ok, ...}; `driver` is the ReplayDriver
    that applied the batches."""
    out = {}
    exp, act = expected_state(binlog_dirs), actual_state(driver.table)
    out["state"] = {"ok": exp == act, "expected_rows": exp[0],
                    "actual_rows": act[0], "expected_hash": str(exp[1]),
                    "actual_hash": str(act[1])}
    try:
        driver.ckpt.validate_contiguous()
        out["contiguous"] = {"ok": True}
    except AssertionError as e:
        out["contiguous"] = {"ok": False, "error": str(e)}
    got = driver.ckpt.committed_batch_ids()
    out["batch_ids"] = {"ok": got == expected_ids, "committed": got,
                        "expected": expected_ids}
    return out
