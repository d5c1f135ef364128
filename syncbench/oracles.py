"""Independent oracles. They run in DuckDB with their own rules and never
call the package under test: LWW is a ``row_number()`` window, BM25 is
SQL over ``string_split`` tokens."""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from gen import SYNC_COLUMNS

_COLS = ", ".join(SYNC_COLUMNS)


def _lww(rel: str) -> str:
    return (
        f"SELECT {_COLS} FROM (SELECT *, row_number() OVER (PARTITION BY id "
        f"ORDER BY version DESC, prio DESC) AS _rn FROM ({rel})) WHERE _rn = 1"
    )


class SyncOracle:
    """Replays the write log of both stores and every cycle.

    ``cycle`` returns the counts the program's cycle must reproduce:
    rows in each side's window, echo rows suppressed per side, merge
    input rows, winners, and losers per side."""

    def __init__(self, base: pd.DataFrame) -> None:
        self.con = duckdb.connect()
        self.con.register("_base", base)
        for side in ("L", "R"):
            self.con.execute(f"CREATE TABLE {side} AS SELECT {_COLS} FROM _base")
        self.con.unregister("_base")

    def write(self, side: str, batch: pd.DataFrame) -> None:
        self.con.register("_batch", batch)
        self.con.execute(
            f"CREATE OR REPLACE TABLE {side} AS "
            + _lww(f"SELECT {_COLS} FROM {side} UNION ALL SELECT {_COLS} FROM _batch")
        )
        self.con.unregister("_batch")

    def cycle(self, lo: int | None, hi: int) -> dict:
        lo_pred = "TRUE" if lo is None else f"version > {lo}"
        c = self.con
        for side, other in (("L", "R"), ("R", "L")):
            c.execute(
                f"CREATE OR REPLACE TEMP TABLE win_{side} AS SELECT {_COLS} FROM {side} "
                f"WHERE {lo_pred} AND version <= {hi}"
            )
            c.execute(
                f"CREATE OR REPLACE TEMP TABLE inc_{side} AS SELECT * FROM win_{side} "
                f"WHERE source IS NULL OR source <> '{other}'"
            )
        c.execute(
            "CREATE OR REPLACE TEMP TABLE winners AS "
            + _lww("SELECT * FROM inc_L UNION ALL SELECT * FROM inc_R")
        )
        counts = {}
        for side in ("L", "R"):
            counts[f"window_{side}"] = c.execute(f"SELECT count(*) FROM win_{side}").fetchone()[0]
            counts[f"input_{side}"] = c.execute(f"SELECT count(*) FROM inc_{side}").fetchone()[0]
            counts[f"losers_{side}"] = c.execute(
                f"SELECT count(*) FROM inc_{side} i ANTI JOIN winners w "
                "USING (id, version, prio)"
            ).fetchone()[0]
        counts["winners"] = c.execute("SELECT count(*) FROM winners").fetchone()[0]
        for side in ("L", "R"):
            c.execute(
                f"CREATE OR REPLACE TABLE {side} AS "
                + _lww(f"SELECT {_COLS} FROM {side} UNION ALL SELECT {_COLS} FROM winners")
            )
        return counts

    def rows(self, side: str) -> int:
        return self.con.execute(f"SELECT count(*) FROM {side}").fetchone()[0]

    def diff(self, side: str, actual: pd.DataFrame) -> int:
        """Rows present on exactly one side of (oracle store, actual)."""
        self.con.register("_actual", actual[SYNC_COLUMNS])
        n = self.con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT {_COLS} FROM {side} EXCEPT ALL "
            f"SELECT {_COLS} FROM _actual)) + (SELECT count(*) FROM (SELECT {_COLS} "
            f"FROM _actual EXCEPT ALL SELECT {_COLS} FROM {side}))"
        ).fetchone()[0]
        self.con.unregister("_actual")
        return int(n)


Q20 = float(1 << 20)


class SearchOracle:
    """The live corpus (doc id -> text) and BM25 over it: k1=1.2, b=0.75,
    idf = ln(1 + (N - df + 0.5) / (df + 0.5)), whitespace tokens,
    scores floored to Q20 fixed point."""

    def __init__(self, docs: pd.DataFrame) -> None:
        self.con = duckdb.connect()
        self.con.register("_docs", docs)
        self.con.execute("CREATE TABLE corpus AS SELECT doc_id, text FROM _docs")
        self.con.unregister("_docs")

    def upsert(self, delta: pd.DataFrame) -> None:
        self.con.register("_delta", delta)
        self.con.execute(
            "CREATE OR REPLACE TABLE corpus AS SELECT doc_id, text FROM corpus "
            "WHERE doc_id NOT IN (SELECT doc_id FROM _delta) "
            "UNION ALL SELECT doc_id, text FROM _delta"
        )
        self.con.unregister("_delta")

    def n_docs(self) -> int:
        return self.con.execute("SELECT count(*) FROM corpus").fetchone()[0]

    def text_of(self, k: int) -> str:
        """Text of the k-th live document in id order (seeded picks)."""
        return self.con.execute(
            "SELECT text FROM corpus ORDER BY doc_id LIMIT 1 OFFSET ?", [k]
        ).fetchone()[0]

    def frame(self) -> pd.DataFrame:
        return self.con.execute("SELECT doc_id, text FROM corpus ORDER BY doc_id").df()

    def bm25(self, terms: list[str], k1: float = 1.2, b: float = 0.75) -> dict[int, tuple[int, int]]:
        """doc_id -> (n_hit_terms, score_q20) for every doc matching any term."""
        rows = self.con.execute(
            f"""
            WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM corpus),
                 dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
                 stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
                 tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
                        WHERE term IN (SELECT unnest(?)) GROUP BY doc_id, term),
                 df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
            SELECT doc_id, count(*) AS hits,
                   sum(ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * ({k1} + 1)
                       / (tf + {k1} * (1 - {b} + {b} * dl / avgdl))) AS score
            FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats
            GROUP BY doc_id
            """,
            [terms],
        ).fetchall()
        return {int(d): (int(h), int(math.floor(s * Q20))) for d, h, s in rows}


def check_topk(got: list[tuple[int, int, int]], oracle: dict[int, tuple[int, int]], k: int) -> bool:
    """``got`` = program rows (doc_id, n_hit_terms, score_q20). Accepts a
    one-unit Q20 difference (float summation order) and, at the k-th
    place, any order among docs whose scores are within that unit."""
    want = min(k, len(oracle))
    if len(got) != want:
        return False
    for doc, hits, score in got:
        if doc not in oracle or oracle[doc][0] != hits or abs(oracle[doc][1] - score) > 1:
            return False
    if not got:
        return True
    ranked = sorted(oracle.items(), key=lambda kv: (-kv[1][1], kv[0]))
    cut = ranked[want - 1][1][1]
    ids = {d for d, _, _ in got}
    must = {d for d, (_, s) in oracle.items() if s > cut + 1}
    return must <= ids and all(oracle[d][1] >= cut - 1 for d in ids)
