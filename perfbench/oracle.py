"""Independent answers for every operation the benchmark times.

The oracle re-derives everything from the generated pages with DuckDB:
extraction is the first ``<p>…</p>`` body of the html, tokens are
``[a-z0-9]+`` runs of the lowercased text, only ``lang = 'en'`` pages are
indexed, and BM25 is Lucene's (k1 = 1.2, b = 0.75,
idf = ln(1 + (N - df + 0.5) / (df + 0.5))).  The only thing shared with
the engine is the document identity ``doc_id = xxhash64(url)`` (seed 42),
which is a specification Spark implements, taken from the package's pure
Python copy of it.

Comparisons rank by (score DESC, doc_id ASC) with a float tolerance,
so summation order cannot turn an equal score into a mismatch.
"""

from __future__ import annotations

import datetime as _dt
import os

K1, B = 1.2, 0.75
TOKEN_RE = "[a-z0-9]+"
SCORE_TOL = 1e-6
DAY_US = 86_400_000_000


def connect():
    import tempfile

    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    return con


def load_pages(con, name: str, pages_parquet: str) -> None:
    """Tables ``{name}_docs(doc_id, url, dl, ts_us)`` and
    ``{name}_post(doc_id, term, tf)`` for the indexed (en) pages."""
    import pandas as pd

    from data_prepper_spark.hashing import xxh64_signed

    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE {name}_src AS
        SELECT url, epoch_us(warc_ts) AS ts_us,
               lower(regexp_extract(decode(html), '<p>(.*)</p>', 1)) AS text
        FROM read_parquet('{pages_parquet}') WHERE lang = 'en'"""
    )
    urls = [r[0] for r in con.execute(f"SELECT url FROM {name}_src").fetchall()]
    ids = pd.DataFrame({"url": urls, "doc_id": [xxh64_signed(u) for u in urls]})
    con.register(f"{name}_ids", ids)
    con.execute(
        f"""CREATE OR REPLACE TABLE {name}_docs AS
        SELECT i.doc_id, s.url, s.ts_us,
               len(regexp_extract_all(s.text, '{TOKEN_RE}')) AS dl
        FROM {name}_src s JOIN {name}_ids i USING (url)"""
    )
    con.execute(
        f"""CREATE OR REPLACE TABLE {name}_post AS
        SELECT doc_id, term, count(*)::INTEGER AS tf FROM (
            SELECT i.doc_id, unnest(regexp_extract_all(s.text, '{TOKEN_RE}')) AS term
            FROM {name}_src s JOIN {name}_ids i USING (url))
        GROUP BY doc_id, term"""
    )
    con.unregister(f"{name}_ids")
    con.execute(f"DROP TABLE {name}_src")


def save_tables(con, name: str, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for t in ("docs", "post"):
        con.execute(f"COPY {name}_{t} TO '{out_dir}/{t}.parquet' (FORMAT parquet)")


def open_tables(con, name: str, out_dir: str) -> None:
    for t in ("docs", "post"):
        con.execute(
            f"CREATE OR REPLACE TABLE {name}_{t} AS "
            f"SELECT * FROM read_parquet('{out_dir}/{t}.parquet')"
        )


def build_stats(con, name: str) -> dict:
    """What a correct build over these pages must report."""
    n, total = con.execute(f"SELECT count(*), sum(dl) FROM {name}_docs").fetchone()
    df = dict(
        con.execute(f"SELECT term, count(*) FROM {name}_post GROUP BY term").fetchall()
    )
    return {"n_docs": int(n), "total_tokens": int(total or 0), "df": df}


def day_label(ts_us: int) -> str:
    return (_dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=ts_us)).strftime("%Y-%m-%d")


def to_us(ts: _dt.datetime) -> int:
    return (ts - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)


def _terms_sql(terms) -> str:
    return ", ".join("'" + t.replace("'", "''") + "'" for t in terms)


class BM25Oracle:
    """BM25 over the docs of view *docs*/*post*, with corpus statistics
    (N, avgdl, df) taken from *stats* (a table-name prefix).  They differ
    only for an index carrying unpurged tombstones, whose statistics
    still count the deleted docs."""

    def __init__(self, con, docs: str, post: str, stats: str | None = None,
                 doc_filter: str = "TRUE"):
        self.con = con
        self.docs, self.post = docs, post
        self.stats_docs = f"{stats}_docs" if stats else docs
        self.stats_post = f"{stats}_post" if stats else post
        self.doc_filter = doc_filter
        n, total = con.execute(
            f"SELECT count(*), sum(dl) FROM {self.stats_docs} WHERE {doc_filter}"
        ).fetchone()
        self.n = int(n)
        self.avgdl = float(total) / n if n else 0.0

    def ranked(self, must=(), should=(), must_not=(), extra_filter: str = "TRUE"):
        """Every match of a Lucene BooleanQuery as (doc_id, score), best
        first: all *must* terms present, no *must_not* term present, at
        least one scoring term present; score sums BM25 over the present
        must and should terms."""
        must = sorted(set(must))
        should = sorted(set(should) - set(must))
        must_not = sorted(set(must_not))
        roles = [(t, "must") for t in must] + [(t, "should") for t in should] + [
            (t, "not") for t in must_not
        ]
        if not must and not should:
            return []
        values = ", ".join(f"('{t}', '{r}')" for t, r in roles)
        df = dict(
            self.con.execute(
                f"""SELECT p.term, count(*) FROM {self.stats_post} p
                JOIN {self.stats_docs} d USING (doc_id)
                WHERE p.term IN ({_terms_sql(t for t, _ in roles)}) AND {self.doc_filter}
                GROUP BY p.term"""
            ).fetchall()
        )
        if any(df.get(t, 0) == 0 for t in must):
            return []
        rows = self.con.execute(
            f"""WITH q(term, role) AS (VALUES {values}),
            df(term, df) AS (VALUES {", ".join(f"('{t}', {d})" for t, d in df.items()) or "(NULL, 0)"})
            SELECT m.doc_id,
                   sum(CASE WHEN q.role <> 'not' THEN
                       ln(1 + ({self.n} - df.df + 0.5) / (df.df + 0.5))
                       * m.tf * {K1 + 1} / (m.tf + {K1} * (1 - {B} + {B} * d.dl / {self.avgdl}))
                   END) AS score,
                   count(*) FILTER (WHERE q.role = 'must') AS n_must,
                   count(*) FILTER (WHERE q.role = 'not') AS n_not
            FROM {self.post} m JOIN q USING (term) JOIN df USING (term)
                 JOIN {self.docs} d USING (doc_id)
            WHERE {self.doc_filter} AND {extra_filter}
            GROUP BY m.doc_id"""
        ).fetchall()
        out = [
            (int(d), float(s)) for d, s, nm, nn in rows
            if s is not None and nm == len(must) and nn == 0
        ]
        out.sort(key=lambda h: (-h[1], h[0]))
        return out

    def match(self, text: str, extra_filter: str = "TRUE"):
        from re import findall

        return self.ranked(should=findall(TOKEN_RE, text.lower()),
                           extra_filter=extra_filter)

    def prefix_terms(self, prefix: str) -> list[str]:
        rows = self.con.execute(
            f"SELECT DISTINCT term FROM {self.stats_post} WHERE starts_with(term, ?)",
            [prefix],
        ).fetchall()
        return sorted(r[0] for r in rows)

    def date_histogram(self, text: str) -> list[tuple[str, int]]:
        """Matched-doc counts per UTC day."""
        from re import findall

        terms = sorted(set(findall(TOKEN_RE, text.lower())))
        if not terms:
            return []
        rows = self.con.execute(
            f"""SELECT d.ts_us // {DAY_US} AS day, count(DISTINCT d.doc_id)
            FROM {self.post} p JOIN {self.docs} d USING (doc_id)
            WHERE p.term IN ({_terms_sql(terms)}) AND {self.doc_filter}
            GROUP BY day ORDER BY day"""
        ).fetchall()
        return [(day_label(int(day) * DAY_US), int(c)) for day, c in rows]


def trim(full, k: int):
    """The first *k* matches plus any that tie the k-th within the
    tolerance: all a top-k check needs, whatever the match count."""
    if len(full) <= k:
        return full
    kth = full[k - 1][1]
    n = k
    while n < len(full) and full[n][1] >= kth - SCORE_TOL * max(1.0, abs(kth)):
        n += 1
    return full[:n]


def compare_topk(got, expected, k: int, tol: float = SCORE_TOL) -> str | None:
    """None when *got* (the engine's top-k, as (doc_id, score)) is a
    correct top-k of *expected* (every match, best first), else the
    reason.  Correct means: the right length; every hit a real match
    with its oracle score (within *tol*); every doc scoring above the
    k-th oracle score present; ranked by score DESC then doc_id ASC,
    scores within *tol* counting as ties."""
    want = min(k, len(expected))
    if len(got) != want:
        return f"{len(got)} hits, expected {want}"
    if not want:
        return None
    exp = dict(expected)
    kth = expected[want - 1][1]
    for d, s in got:
        if d not in exp:
            return f"doc {d} is not a match"
        if abs(s - exp[d]) > tol * max(1.0, abs(exp[d])):
            return f"doc {d} scored {s!r}, oracle {exp[d]!r}"
        if exp[d] < kth - tol:
            return f"doc {d} ({exp[d]!r}) is below the k-th score {kth!r}"
    ids = {d for d, _ in got}
    for d, s in expected[:want]:
        if s > kth + tol and d not in ids:
            return f"doc {d} ({s!r}) missing"
    for (d0, _), (d1, _) in zip(got, got[1:]):
        s0, s1 = exp[d0], exp[d1]
        if s1 > s0 + tol or (abs(s1 - s0) <= tol and d1 < d0 and _strict_tie(s0, s1)):
            return f"order: doc {d1} ranked after doc {d0}"
    return None


def _strict_tie(a: float, b: float) -> bool:
    # exact-equal scores must be in doc_id order; near-equal ones (within
    # tol but not equal) may legitimately come in either order
    return abs(a - b) <= 1e-12 * max(1.0, abs(a))
