"""Output checks, run after each timed region.

Each check returns a list of problems; an empty list means the output is
correct.
"""
import glob
import hashlib
import json
import os

from gen import row_digest


def stream_rows(out_dir, stream):
    """All rows the target wrote for `stream`, one dict per row. Each
    epoch or micro-batch file is read on its own: their columns differ."""
    import pyarrow.parquet as pq
    rows = []
    for f in sorted(glob.glob(os.path.join(out_dir, stream + "-*", "*.parquet"))):
        rows.extend(pq.read_table(f).to_pylist())
    return rows


def check_ingest(out_dir, manifest):
    """Per-stream row count, content checksum and key uniqueness."""
    problems = []
    for stream, exp in manifest["streams"].items():
        rows = stream_rows(out_dir, stream)
        if len(rows) != exp["rows"]:
            problems.append("%s: %d rows, expected %d" % (stream, len(rows), exp["rows"]))
        total = 0
        for r in rows:
            total = (total + row_digest(r)) % (1 << 64)
        if "%016x" % total != exp["checksum"]:
            problems.append("%s: content checksum %016x, expected %s"
                            % (stream, total, exp["checksum"]))
        keys = {tuple(r.get(k) for k in exp["key"]) for r in rows}
        if len(keys) != len(rows):
            problems.append("%s: %d duplicate keys" % (stream, len(rows) - len(keys)))
    extra = {os.path.basename(p).split("-")[0]
             for p in glob.glob(os.path.join(out_dir, "*-*"))} - set(manifest["streams"])
    if extra:
        problems.append("unexpected streams in output: %s" % sorted(extra))
    return problems


def check_bookmark(stdout_lines, manifest):
    """The last stdout line is the final bookmark, equal to the manifest's."""
    if not stdout_lines:
        return ["no bookmark on stdout"]
    try:
        got = json.loads(stdout_lines[-1])
    except ValueError:
        return ["last stdout line is not JSON: %r" % stdout_lines[-1][:200]]
    if got != manifest["final_bookmark"]:
        return ["final bookmark %s, expected %s" % (got, manifest["final_bookmark"])]
    return []


def check_live_bookmarks(bookmarks, last_page):
    """Live bookmarks: JSON, pages never going backwards, ending at the last
    page. `bookmarks` is a list of (time, stdout line)."""
    problems = []
    prev = -1
    for _, line in bookmarks:
        try:
            page = json.loads(line)["bookmarks"]["page"]
        except (ValueError, KeyError, TypeError):
            problems.append("bookmark is not a page state: %r" % line[:200])
            continue
        if page < prev:
            problems.append("bookmark went back from page %d to %d" % (prev, page))
        prev = max(prev, page)
    if prev != last_page:
        problems.append("last bookmark page %d, expected %d" % (prev, last_page))
    return problems


# ------------------------------------------------------------ operator rows

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def oracle_frame(sf_dir, sql, cache_dir):
    """The DuckDB oracle's canonical result for `sql`, cached on disk by the
    hash of the SQL and the data directory (both inputs are fixed)."""
    import duckdb
    import pandas as pd
    key = hashlib.sha256((sf_dir + "\0" + sql).encode("utf-8")).hexdigest()[:24]
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, t + ".parquet")
        if os.path.exists(p):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (t, p))
    df = _canon(con.execute(sql).df())
    con.close()
    os.makedirs(cache_dir, exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def check_rows(sf_dir, out_dir, rows, cache_dir):
    """Each row's Spark result equals its DuckDB oracle: same columns, same
    value kinds and exactly equal sorted rows."""
    import pandas as pd
    import pyarrow.parquet as pq
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    problems = []
    for name in rows:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            problems.append("%s: no output" % name)
            continue
        got = _canon(pq.read_table(files[0]).to_pandas())
        if name not in oracles:
            if len(got) == 0:
                problems.append("%s: no rows and no oracle" % name)
            continue
        want = oracle_frame(sf_dir, oracles[name], cache_dir)
        if got.shape != want.shape or list(got.columns) != list(want.columns):
            problems.append("%s: shape %s%s, oracle %s%s" % (
                name, got.shape, list(got.columns), want.shape, list(want.columns)))
            continue
        kinds = [c for c in got.columns if got[c].dtype.kind != want[c].dtype.kind]
        if kinds:
            problems.append("%s: value kinds differ in %s" % (name, kinds))
            continue
        try:
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
        except AssertionError as e:
            problems.append("%s: %s" % (name, " | ".join(str(e).splitlines()[:4])))
    return problems
