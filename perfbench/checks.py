"""Output checks: registered queries against their DuckDB oracle, the
connector's collection against the upstream generator's truth."""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import pyarrow.dataset as pads

from tests.parity import assert_frames_match


class CheckFailed(Exception):
    """An operation produced a wrong output."""


class Oracle:
    """DuckDB over the same parquet tables the engine reads; each oracle
    query runs once per process (the tables do not change during a run)."""

    def __init__(self, sf_dir: str, tables: tuple[str, ...], oracle_sql: dict[str, str]):
        self.con = duckdb.connect()
        for t in tables:
            if os.path.exists(f"{sf_dir}/{t}.parquet"):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        self.sql = oracle_sql
        self._results: dict = {}

    def check(self, name: str, spark_pdf) -> None:
        if name not in self._results:
            self._results[name] = self.con.execute(self.sql[name]).fetchdf()
        try:
            assert_frames_match(spark_pdf, self._results[name], name)
        except AssertionError as e:
            raise CheckFailed(str(e)) from None

    def close(self) -> None:
        self.con.close()


def _plain(v):
    """A collection cell as plain Python: timestamps as naive UTC ISO. Only
    top-level columns hold timestamps in the connector's schema, so nested
    values are left as pyarrow returns them."""
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    return v


def read_collection_rows(path: str) -> list[dict]:
    """Every row of a docsink collection, read with pyarrow (not the engine),
    sorted by id; the bucket partition column is dropped."""
    # the bucket directories are named "__bucket=N": keep pyarrow from
    # skipping them as hidden ("_" prefix) while still skipping the sink's
    # metadata and marker files
    ds = pads.dataset(path, format="parquet", partitioning="hive",
                      ignore_prefixes=[".", "_SUCCESS", "_docsink"])
    rows = [
        {k: _plain(v) for k, v in r.items() if k != "__bucket"}
        for r in ds.to_table().to_pylist()
    ]
    return sorted(rows, key=lambda r: (r["id"] is None, r["id"] or 0))


def parquet_files(path: str) -> dict[str, int]:
    """Parquet file -> row count, for every data file of a collection."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = pads.dataset(p, format="parquet").count_rows()
    return out


def check_collection(rows: list[dict], expected: list[dict]) -> None:
    """The landed collection must equal the generator's truth, and hold the
    connector's properties: unique keys, newest version wins, and an
    ``ingested_at`` on every row."""
    ids = [r["id"] for r in rows]
    if len(ids) != len(set(ids)):
        raise CheckFailed(f"duplicate keys: {len(ids) - len(set(ids))} extra rows")
    missing = [r["id"] for r in rows if r.get("ingested_at") is None]
    if missing:
        raise CheckFailed(f"{len(missing)} rows without ingested_at, first id {missing[0]}")
    newest = {e["id"]: e["updated_at"] for e in expected}
    stale = [r["id"] for r in rows if r["id"] in newest and r.get("updated_at") != newest[r["id"]]]
    if stale:
        raise CheckFailed(f"{len(stale)} keys not at their newest version, first id {stale[0]}")
    got = {r["id"]: {k: v for k, v in r.items() if k != "ingested_at"} for r in rows}
    want = {e["id"]: e for e in expected}
    if got.keys() != want.keys():
        extra, lost = sorted(got.keys() - want.keys()), sorted(want.keys() - got.keys())
        raise CheckFailed(f"key sets differ: {len(extra)} unexpected (first {extra[:3]}), "
                          f"{len(lost)} missing (first {lost[:3]})")
    for k in want:
        if got[k] != want[k]:
            diff = sorted(c for c in want[k].keys() | got[k].keys() if got[k].get(c) != want[k].get(c))
            raise CheckFailed(f"id {k}: columns {diff} differ: got "
                              f"{ {c: got[k].get(c) for c in diff} } want { {c: want[k].get(c) for c in diff} }")


def check_compaction(before: list[dict], after: list[dict], files_before: int, files_after: int) -> None:
    """Compaction must change no row (``ingested_at`` included) and must not
    raise the collection's file count."""
    if before != after:
        n = sum(1 for a, b in zip(before, after) if a != b) + abs(len(before) - len(after))
        raise CheckFailed(f"compaction changed {n} rows ({len(before)} -> {len(after)})")
    if files_after > files_before:
        raise CheckFailed(f"compaction raised the file count {files_before} -> {files_after}")
