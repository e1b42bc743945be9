"""Differential fuzz of ``manifest_sql`` against DuckDB.

Seeded statement sequences — INSERT, UPDATE, DELETE, MERGE with every
clause kind, ALTER TABLE ADD COLUMNS — run through ``manifest_sql``
on a manifest table with the change feed on, and through DuckDB on a
mirror table.  After every statement the full tables must match; at
the end every version read back with ``VERSION AS OF`` must equal the
mirror's state at that version, ``TIMESTAMP AS OF`` one version's
commit stamp likewise, and ``table_changes`` must equal the mirror's
change feed.

The Spark-side text is adversarial for a lexer: ``;``, quotes,
keywords, comment markers and backticks inside literals (three
quoting styles), line and block comments before and inside
statements, mixed-case keywords and table names, backticked names.
DuckDB gets plain SQL with the same values.

DuckDB 1.0 has no MERGE, so a MERGE is modelled as DELETE, UPDATE and
INSERT in one DuckDB transaction, under SQL MERGE's rule: a source
row a WHEN MATCHED ... DELETE condition marks removes its matched
target row, and a source row that matches no target row is inserted
when the statement has WHEN NOT MATCHED THEN INSERT, marked or not."""

from __future__ import annotations

import datetime as dt
import random

import duckdb
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from stock_market_data_pipeline_spark.manifest import ManifestTable
from stock_market_data_pipeline_spark.manifest_datasource import (
    manifest_sql,
)

# string values built to break a regex lexer
_STRINGS = ["plain", "a;b", "it's", 'say "hi"', "x WHERE y", "a,b",
            "FROM fz VERSION AS OF 1", "-- no comment", "/* nor */",
            "`tick`", "s.s = 's.x'", "table_changes('fz', 1)",
            "fz.files", "back\\slash", "MERGE INTO fz", None]
_LEADS = ["", "-- it's a 'quote; WHERE\n", "/* MERGE INTO fz; 'q */ ",
          "--x\n/* y */\n"]
_BASE_COLS = ["id", "pt", "s", "v"]

s_val = st.sampled_from(_STRINGS)
v_val = st.integers(-4, 12).map(lambda i: i / 2)
# predicates over one row: (kind, arg); ids pick an existing key
pred = st.one_of(
    st.tuples(st.just("id"), st.integers(0, 50)),
    st.tuples(st.just("s"), s_val),
    st.tuples(st.just("v"), v_val),
    st.tuples(st.just("or"), st.tuples(st.tuples(st.just("s"), s_val),
                                       st.tuples(st.just("v"), v_val))))
src_row = st.tuples(st.booleans(), st.integers(0, 50), s_val, v_val)
ops = st.tuples(
    st.lists(st.tuples(s_val, v_val), min_size=1, max_size=3),  # insert
    st.tuples(s_val, pred),                                      # update
    st.lists(src_row, min_size=2, max_size=4),                   # merge 1
    st.tuples(st.just("s"), s_val) | st.tuples(st.just("v"), v_val),
    pred,                                                        # delete
    st.lists(src_row, min_size=1, max_size=3),                   # merge 2
    st.one_of(st.none(), st.tuples(st.just("v"), v_val)),
    st.lists(st.tuples(s_val, v_val), min_size=1, max_size=2))   # insert


class _Render:
    """Per-engine SQL text for the same values and predicates."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)

    def kw(self, text: str) -> str:
        return " ".join(self.rng.choice([w.lower(), w.upper(),
                                         w.capitalize()])
                        for w in text.split())

    def sp(self) -> str:
        return self.rng.choice([" ", " ", " /* ; ' */ ", "\n-- ;\n"])

    def name(self) -> str:
        return self.rng.choice(["fz", "`fz`", "FZ", "Fz"])

    def lead(self) -> str:
        return self.rng.choice(_LEADS)

    def lit(self, v) -> str:
        if v is None:
            return "NULL"
        if not isinstance(v, str):
            return repr(v)
        esc = v.replace("\\", "\\\\")
        style = self.rng.randrange(3)
        if style == 0:
            return "'" + esc.replace("'", "''") + "'"
        if style == 1:
            return "'" + esc.replace("'", "\\'") + "'"
        return '"' + esc.replace('"', '\\"') + '"'


def _dlit(v) -> str:
    if v is None:
        return "NULL"
    if not isinstance(v, str):
        return repr(v)
    return "'" + v.replace("'", "''") + "'"


def _pred(p, lit, q: str = "") -> str:
    """A predicate as SQL; ``lit`` renders values, ``q`` qualifies."""
    kind, arg = p
    if kind == "or":
        return f"({_pred(arg[0], lit, q)} OR {_pred(arg[1], lit, q)})"
    if kind == "v":
        return f"{q}v > {lit(arg)}"
    if arg is None:
        return f"{q}s IS NULL"
    return f"{q}{kind} = {lit(arg)}"


class _Mirror:
    """The DuckDB side: the table and its change feed."""

    def __init__(self, rows):
        self.con = duckdb.connect()
        self.cols = list(_BASE_COLS)
        self.con.execute("CREATE TABLE fz (id BIGINT, pt VARCHAR, "
                         "s VARCHAR, v DOUBLE)")
        self.con.execute("CREATE TABLE feed AS SELECT *, "
                         "'' AS _change_type, 0::BIGINT AS "
                         "_commit_version FROM fz LIMIT 0")
        self.insert_rows(rows, None)

    def rows(self):
        return _sorted(self.con.execute(
            f"SELECT {', '.join(self.cols)} FROM fz").fetchall())

    def ids(self):
        return sorted(r[0] for r in
                      self.con.execute("SELECT id FROM fz").fetchall())

    def feed(self, sel: str, kind: str, ver: int):
        cols = ", ".join(self.cols)
        self.con.execute(
            f"INSERT INTO feed ({cols}, _change_type, _commit_version) "
            f"SELECT {cols}, '{kind}', {ver} FROM ({sel})")

    def insert_rows(self, rows, ver):
        self.con.execute("CREATE OR REPLACE TEMP TABLE src AS "
                         "SELECT * FROM fz LIMIT 0")
        self.con.executemany(
            f"INSERT INTO src VALUES ({', '.join('?' * len(self.cols))})",
            rows)
        if ver is not None:
            self.feed("SELECT * FROM src", "insert", ver)
        self.con.execute("INSERT INTO fz SELECT * FROM src")


def _sorted(rows):
    return sorted((tuple(r) for r in rows),
                  key=lambda r: tuple((x is None, str(x)) for x in r))


def _row(i, s, v, extra):
    return (i, str(i % 3), s, v, *[i % 5 for _ in range(extra)])


@settings(max_examples=1, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(plan=ops, seed=st.integers(0, 2 ** 16))
def test_manifest_sql_matches_duckdb(spark, tmp_path_factory, plan,
                                     seed):
    r = _Render(seed)
    base = [_row(i, _STRINGS[i], i / 2, 0) for i in range(6)]
    t = ManifestTable.create(
        spark.createDataFrame(base, "id long, pt string, s string, "
                                    "v double"),
        str(tmp_path_factory.mktemp("fuzz") / "fz"), ts="pt")
    m = _Mirror(base)
    snaps = {1: (list(m.cols), m.rows())}
    stamps = {1: t._raw()["committed_at"]}
    fresh = iter(range(100, 1000))
    (ins1, (upd_s, upd_p), msrc1, mdel1, del_p, msrc2, mbs2,
     ins2) = plan

    def run(text: str):
        before = t.version()
        manifest_sql(spark, text, {"fz": t}, cdf=True)
        ver = t.version()
        assert ver in (before, before + 1), text
        return ver

    def record(ver: int):
        snaps[ver] = (list(m.cols), m.rows())
        stamps[ver] = t._raw()["committed_at"]

    def key(i: int) -> int:
        ids = m.ids()
        return ids[i % len(ids)] if ids else i

    def pick(p):
        return ("id", key(p[1])) if p[0] == "id" else p

    def insert(payload):
        rows = [_row(next(fresh), s, v, len(m.cols) - 4)
                for s, v in payload]
        cols = list(m.cols)
        r.rng.shuffle(cols)
        vals = ", ".join(
            "(" + ", ".join(r.lit(row[m.cols.index(c)]) for c in cols)
            + ")" for row in rows)
        text = (f"{r.lead()}{r.kw('INSERT INTO')} {r.name()} "
                f"({', '.join(cols)}){r.sp()}{r.kw('VALUES')} {vals}")
        ver = run(text)
        m.insert_rows(rows, ver)
        record(ver)

    def update(s, p):
        p = pick(p)
        text = (f"{r.lead()}{r.kw('UPDATE')} {r.name()} {r.kw('SET')} "
                f"s = {r.lit(s)},{r.sp()}v = v + 1.5 "
                f"{r.kw('WHERE')} {_pred(p, r.lit)}")
        ver = run(text)
        m.con.execute("CREATE OR REPLACE TEMP TABLE hit AS SELECT id "
                      f"FROM fz WHERE {_pred(p, _dlit)}")
        hit = "SELECT * FROM fz WHERE id IN (SELECT id FROM hit)"
        m.feed(hit, "update_preimage", ver)
        m.con.execute(f"UPDATE fz SET s = {_dlit(s)}, v = v + 1.5 "
                      f"WHERE id IN (SELECT id FROM hit)")
        m.feed(hit, "update_postimage", ver)
        record(ver)

    def delete(p):
        p = pick(p)
        text = (f"{r.lead()}{r.kw('DELETE FROM')} {r.name()}{r.sp()}"
                f"{r.kw('WHERE')} {_pred(p, r.lit)}")
        ver = run(text)
        m.feed(f"SELECT * FROM fz WHERE {_pred(p, _dlit)}", "delete", ver)
        m.con.execute(f"DELETE FROM fz WHERE {_pred(p, _dlit)}")
        record(ver)

    def merge(src, upsert: bool, mdel, by_source):
        """``mdel``: None, True (unconditional) or a source predicate;
        ``by_source``: None, True or a target predicate."""
        ids, rows = set(), []
        for old, i, s, v in src:
            k = key(i) if old and m.ids() else next(fresh)
            if k not in ids:
                ids.add(k)
                rows.append(_row(k, s, v, len(m.cols) - 4))
        vals = ", ".join("(" + ", ".join(r.lit(x) for x in row) + ")"
                         for row in rows)
        talias = r.rng.choice([None, "t"])
        tq = (talias or "fz") + "."
        clauses = []
        if mdel is True:
            clauses.append(r.kw("WHEN MATCHED THEN DELETE"))
        elif mdel is not None:
            clauses.append(f"{r.kw('WHEN MATCHED AND')} "
                           f"{_pred(mdel, r.lit, 's.')} "
                           f"{r.kw('THEN DELETE')}")
        if upsert:
            clauses += [r.kw("WHEN MATCHED THEN UPDATE SET *"),
                        r.kw("WHEN NOT MATCHED THEN INSERT *")]
        if by_source is True:
            clauses.append(r.kw("WHEN NOT MATCHED BY SOURCE THEN DELETE"))
        elif by_source is not None:
            clauses.append(f"{r.kw('WHEN NOT MATCHED BY SOURCE AND')} "
                           f"{_pred(by_source, r.lit, tq)} "
                           f"{r.kw('THEN DELETE')}")
        target = r.name() + (f" {r.kw('AS')} {talias}" if talias else "")
        text = (f"{r.lead()}{r.kw('MERGE INTO')} {target} "
                f"{r.kw('USING')} ({r.kw('SELECT * FROM VALUES')} {vals} "
                f"{r.kw('AS')} src({', '.join(m.cols)})) s{r.sp()}"
                f"{r.kw('ON')} {tq}id = s.id{r.sp()}{' '.join(clauses)}")
        ver = run(text)
        c = m.con
        c.execute("BEGIN")
        c.execute("CREATE OR REPLACE TEMP TABLE src AS "
                  "SELECT * FROM fz LIMIT 0")
        c.executemany(f"INSERT INTO src VALUES "
                      f"({', '.join('?' * len(m.cols))})", rows)
        marked = ("true" if mdel is True else "false" if mdel is None
                  else f"coalesce({_pred(mdel, _dlit)}, false)")
        c.execute(f"CREATE OR REPLACE TEMP TABLE ms AS SELECT *, "
                  f"{marked} AS __m, id IN (SELECT id FROM fz) AS __hit "
                  f"FROM src")
        if by_source is not None:
            gone = ("SELECT * FROM fz WHERE id NOT IN (SELECT id FROM "
                    "src)" + ("" if by_source is True else
                              f" AND coalesce({_pred(by_source, _dlit)}"
                              f", false)"))
            m.feed(gone, "delete", ver)
            c.execute(f"DELETE FROM fz WHERE id IN (SELECT id FROM "
                      f"({gone}))")
        dead = "SELECT id FROM ms WHERE __m AND __hit"
        m.feed(f"SELECT * FROM fz WHERE id IN ({dead})", "delete", ver)
        c.execute(f"DELETE FROM fz WHERE id IN ({dead})")
        upd = "SELECT id FROM ms WHERE NOT __m AND __hit"
        m.feed(f"SELECT * FROM fz WHERE id IN ({upd})",
               "update_preimage", ver)
        m.feed("SELECT * FROM ms WHERE NOT __m AND __hit",
               "update_postimage", ver)
        c.execute(f"DELETE FROM fz WHERE id IN ({upd})")
        # every unmatched source row is NOT MATCHED: INSERT * takes it
        ins = "NOT __hit" if upsert else "false"
        m.feed(f"SELECT * FROM ms WHERE {ins}", "insert", ver)
        # the updated rows' new images and the inserted rows
        c.execute(f"INSERT INTO fz SELECT {', '.join(m.cols)} FROM ms "
                  f"WHERE (NOT __m AND __hit) OR {ins}")
        c.execute("COMMIT")
        record(ver)

    def alter():
        col = f"c{len(m.cols) - 3}"
        text = (f"{r.lead()}{r.kw('ALTER TABLE')} {r.name()} "
                f"{r.kw('ADD COLUMNS')} ({col} {r.kw('BIGINT')})")
        ver = run(text)
        for tbl in ("fz", "feed"):
            m.con.execute(f"ALTER TABLE {tbl} ADD COLUMN {col} BIGINT")
        m.cols.append(col)
        record(ver)

    insert(ins1)
    update(upd_s, upd_p)
    merge(msrc1, True, mdel1, None)
    delete(del_p)
    alter()
    merge(msrc2, True, None, mbs2 if mbs2 is not None else True)
    merge([(True, i, s, v) for i, (s, v) in enumerate(ins2)], False,
          True, None)
    insert(ins2)

    # every version reads back through the time-travel spelling, one
    # UNION ALL per schema
    eras = {}
    for ver, (cols, _) in snaps.items():
        eras.setdefault(tuple(cols), []).append(ver)
    for cols, vers in eras.items():
        got = manifest_sql(spark, r.lead() + " UNION ALL ".join(
            f"{r.kw('SELECT')} {ver} AS ver, {', '.join(cols)}, "
            f"'FROM fz VERSION AS OF 1' AS lit {r.kw('FROM')} "
            f"{r.name()}{r.sp()}{r.kw('VERSION AS OF')} {ver} x{ver}"
            for ver in vers), {"fz": t}).collect()
        assert {g["lit"] for g in got} <= {"FROM fz VERSION AS OF 1"}
        for ver in vers:
            assert _sorted(tuple(g)[1:-1] for g in got
                           if g["ver"] == ver) == snaps[ver][1], ver
    head = t.version()
    ver = r.rng.choice(sorted(snaps))
    iso = dt.datetime.fromtimestamp(stamps[ver], dt.timezone.utc)
    got = manifest_sql(
        spark, f"SELECT * FROM {r.name()} "
               f"{r.kw('TIMESTAMP AS OF')} {r.lit(iso.isoformat())}",
        {"fz": t}).collect()
    assert _sorted(got) == snaps[ver][1], ver
    lo = r.rng.randrange(2, head + 1)
    hi = r.rng.randrange(lo, head + 1)
    for first, last in ((lo, hi), (2, None)):
        got = manifest_sql(
            spark,
            f"{r.lead()}{r.kw('SELECT * FROM table_changes')}("
            f"{r.lit('fz')}, {first}{'' if last is None else f', {last}'})",
            {"fz": t})
        want = m.con.execute(
            f"SELECT {', '.join(got.columns)} FROM feed WHERE "
            f"_commit_version BETWEEN {first} AND {last or head}")
        assert _sorted(got.collect()) == _sorted(want.fetchall()), first
