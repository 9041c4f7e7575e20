"""DuckDB oracle results of the query panel.

``run.py`` fills them before it starts the measured child, so the
child's memory and time hold only the program's work; the child reads
the rows back through the manifest written here. The sf0.1 tables are
fixed, so each result is kept under a key over the SQL, the table files
and the DuckDB version, and a change to any of them evaluates the
oracle again.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

CACHE = Path(__file__).resolve().parent / ".work" / "oracle"


def _cache_path(sql: str, sf_dir: str) -> Path:
    import duckdb

    key = hashlib.sha256(sql.encode())
    key.update(duckdb.__version__.encode())
    for f in sorted(Path(sf_dir).iterdir()):
        st = f.stat()
        key.update(f"{f.name}:{st.st_size}:{st.st_mtime_ns}".encode())
    return CACHE / f"{key.hexdigest()}.json"


def _evaluate(sql: str, sf_dir: str) -> dict:
    """The oracle's columns and canonical rows."""
    from tests.oracle import canon_rows, duck_connection

    con = duck_connection(sf_dir)
    try:
        rel = con.sql(sql)
        cols = list(rel.columns)
        rows = canon_rows(cols, rel.fetchall())
    finally:
        con.close()
    return {"columns": cols, "rows": [list(r) for r in rows]}


def fill(names, sf_dir: str, manifest: Path) -> None:
    """Make sure every named query's oracle result is cached and write
    ``manifest``: query name -> cached result file (``None``: the query
    has no oracle)."""
    from realtime_event_streaming_spark.registry import load_all

    reg = load_all()
    entries: dict[str, str | None] = {}
    for name in names:
        sql = reg[name].oracle
        if sql is None:
            entries[name] = None
            continue
        path = _cache_path(sql, sf_dir)
        if not path.exists():
            CACHE.mkdir(parents=True, exist_ok=True)
            tmp = path.with_suffix(".tmp")
            tmp.write_text(json.dumps(_evaluate(sql, sf_dir)))
            tmp.rename(path)
        entries[name] = str(path)
    manifest.write_text(json.dumps(entries))


def load(manifest: Path) -> dict[str, dict | None]:
    """Query name -> oracle columns and rows, as ``fill`` left them."""
    return {
        name: None if path is None else json.loads(Path(path).read_text())
        for name, path in json.loads(manifest.read_text()).items()
    }
