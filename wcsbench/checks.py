"""Correctness checks against the repo's independent references.

* extraction: ``tests/oracle_extractor.oracle_extract``, a stdlib
  html.parser implementation of the extraction rules;
* crawl: a driver-side BFS over oracle-extracted links;
* queries: ``queries.oracle_sql()`` run in DuckDB, compared the way
  ``scripts/driver_mimic.py`` compares (row count, column names, then
  ``canon`` + ``value_hash``).

Every function here runs outside the timed region. A check returns an
error string, or None when the output is correct.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

from scripts.driver_mimic import canon, value_hash
from tests.oracle_extractor import oracle_extract
from wikicrawler_spark.extract_job import LINK_PREFIX


def read_docs(corpus_dir: str) -> dict[str, list[dict]]:
    """doc_id -> input spans of a parquet corpus."""
    rows = pq.read_table(corpus_dir, columns=["doc_id", "spans"]).to_pylist()
    return {r["doc_id"]: r["spans"] for r in rows}


def oracle_spans(docs: dict[str, list[dict]]) -> dict[str, list[dict]]:
    return {d: oracle_extract(d, spans) for d, spans in docs.items()}


def _spans_equal(got: dict[str, list[dict]], want: dict[str, list[dict]],
                 what: str) -> str | None:
    if got.keys() != want.keys():
        extra, missing = got.keys() - want.keys(), want.keys() - got.keys()
        return (f"{what}: doc ids differ ({len(extra)} unexpected, "
                f"{len(missing)} missing)")
    for doc_id, spans in got.items():
        if spans != want[doc_id]:
            return f"{what}: {doc_id} span sequence differs from the oracle"
    return None


def _read_spans(paths: list[str]) -> tuple[dict[str, list[dict]], int]:
    got: dict[str, list[dict]] = {}
    n_rows = 0
    for path in paths:
        for r in pq.read_table(path).to_pylist():
            n_rows += 1
            got[r["doc_id"]] = sorted(r["spans"], key=lambda s: s["offset"])
    return got, n_rows


class ExtractionReference:
    """The oracle's output for a corpus, as a dict and as an Arrow table
    sorted by doc_id, for a fast whole-table comparison."""

    def __init__(self, spans: dict[str, list[dict]]):
        import pyarrow as pa

        self.spans = spans
        ids = sorted(spans)
        self.table = pa.table({"doc_id": ids, "spans": [spans[d] for d in ids]})


def check_extraction(out_dir: str, reference: ExtractionReference) -> str | None:
    """Every output doc's (kind, text, media_ref, order) sequence equals the
    oracle's, and the output doc-id set equals the input's."""
    table = pq.read_table(out_dir).sort_by("doc_id")
    if table.num_rows == reference.table.num_rows:
        try:
            same = table.cast(reference.table.schema).equals(reference.table)
        except (TypeError, ValueError, NotImplementedError):
            same = False
        if same:
            return None
    # slow path: tolerant of span order within a doc, and names the first
    # difference
    got, n_rows = _read_spans([out_dir])
    if n_rows != len(got):
        return f"extraction: {n_rows - len(got)} duplicate output docs"
    return _spans_equal(got, reference.spans, "extraction")


def bfs(docs: dict[str, list[dict]], seeds: list[str], max_waves: int,
        extracted: dict[str, list[dict]]) -> tuple[list[int], set[str]]:
    """Wave sizes and visited set of a wavewise BFS over the links the
    oracle extracts. ``extracted`` caches oracle output per doc."""
    frontier, visited, sizes = sorted(set(seeds)), set(), []
    for _ in range(max_waves):
        if not frontier:
            break
        sizes.append(len(frontier))
        visited.update(frontier)
        nxt = set()
        for doc_id in frontier:
            if doc_id not in docs:
                continue
            if doc_id not in extracted:
                extracted[doc_id] = oracle_extract(doc_id, docs[doc_id])
            for s in extracted[doc_id]:
                ref = s["media_ref"]
                if s["kind"] == "link" and ref and ref.startswith(LINK_PREFIX):
                    nxt.add("wiki/" + ref[len(LINK_PREFIX):])
        frontier = sorted(nxt - visited)
    return sizes, visited


def check_crawl(wave_sizes: list[int], visited: set[str], ckpt_dir: str,
                want_sizes: list[int], want_visited: set[str],
                extracted: dict[str, list[dict]]) -> str | None:
    """Visited set and wave sizes equal the BFS; every visited doc's
    checkpointed spans equal the oracle's."""
    if wave_sizes != want_sizes:
        return f"crawl: wave sizes {wave_sizes} != BFS {want_sizes}"
    if visited != want_visited:
        return (f"crawl: visited differs from BFS ({len(visited - want_visited)} "
                f"unexpected, {len(want_visited - visited)} missing)")
    got, n_rows = _read_spans(sorted(glob.glob(os.path.join(ckpt_dir, "wave=*", "spans"))))
    if n_rows != len(got):
        return f"crawl: {n_rows - len(got)} docs extracted more than once"
    want = {d: extracted[d] for d in visited if d in extracted}
    return _spans_equal(got, want, "crawl checkpoint")


def query_references(documents_path: str, names: list[str]) -> dict[str, tuple]:
    """(row count, column names, value hash) of each query's DuckDB oracle
    over the ``documents`` parquet at ``documents_path``."""
    import duckdb

    from wikicrawler_spark.queries import oracle_sql

    sql = oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        quoted = documents_path.replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{quoted}')")
        out = {}
        for name in names:
            frame = con.sql(sql[name]).fetchdf()
            out[name] = (len(frame), sorted(frame.columns),
                         value_hash(canon(frame)[0]))
        return out
    finally:
        con.close()


def check_query(name: str, frame, reference: tuple) -> str | None:
    rows, columns, digest = reference
    if len(frame) != rows:
        return f"{name}: {len(frame)} rows, oracle has {rows}"
    if sorted(frame.columns) != columns:
        return f"{name}: columns {sorted(frame.columns)} != oracle {columns}"
    if value_hash(canon(frame)[0]) != digest:
        return f"{name}: value hash differs from the oracle"
    return None
