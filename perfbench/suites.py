"""The benchmark's expectation suites and their DuckDB oracle.

Every expectation the benchmark validates is listed here once, with the SQL
that computes its expected outcome independently of the engine. The oracle
runs in DuckDB over the same parquet files the engine reads, so a check
compares the engine against a second query engine, never against itself.
"""

from __future__ import annotations

import math

LANGS = ["en", "de", "fr", "es", "zh", "ru", "ja", "pt"]
# the generator's language mix (sources/webpages.py), "zz" being its ~0.5%
# of invalid codes: the KL expectation measures drift against this
LANG_MIX = [0.6, 0.15, 0.08, 0.06, 0.04, 0.03, 0.02, 0.015, 0.005]
URL_RE = r"^https://d\d+\.example/"

_LANG_SQL = ", ".join(f"'{x}'" for x in LANGS)

# Row-scoped map expectations: (expectation_type, kwargs, SQL predicate a
# non-null value must satisfy). ``None`` marks not-null, whose unexpected
# rows are the nulls themselves. The last three are violated on purpose, so
# a SUMMARY validation has violation details to collect (pass 2).
MAP_EXPECTATIONS: list[tuple[str, dict, str | None]] = [
    ("expect_column_values_to_not_be_null", {"column": "url"}, None),
    ("expect_column_values_to_match_regex",
     {"column": "url", "regex": URL_RE}, f"regexp_matches(url, '{URL_RE}')"),
    ("expect_column_value_lengths_to_be_between",
     {"column": "text", "min_value": 1, "max_value": 10_000_000, "mostly": 0.9},
     "length(text) BETWEEN 1 AND 10000000"),
    ("expect_column_values_to_be_in_set",
     {"column": "lang", "value_set": LANGS, "mostly": 0.99}, f"lang IN ({_LANG_SQL})"),
    ("expect_column_values_to_not_be_null", {"column": "text"}, None),
    ("expect_column_values_to_be_in_set",
     {"column": "lang", "value_set": LANGS}, f"lang IN ({_LANG_SQL})"),
    ("expect_column_value_lengths_to_be_between",
     {"column": "text", "min_value": 1, "max_value": 1000},
     "length(text) BETWEEN 1 AND 1000"),
]

UNIQUE_URL = ("expect_column_values_to_be_unique", {"column": "url", "mostly": 0.9})
LANG_DISTINCT = ("expect_column_unique_value_count_to_be_between",
                 {"column": "lang", "min_value": 5, "max_value": 12})
LANG_KL = ("expect_column_kl_divergence_to_be_less_than",
           {"column": "lang", "threshold": 0.1,
            "partition_object": {"values": LANGS + ["zz"], "weights": LANG_MIX}})


def _suite(name: str, entries: list[tuple]):
    from great_expectations_spark import ExpectationSuite

    suite = ExpectationSuite(name=name)
    for etype, kwargs, *_ in entries:
        suite.add(etype, **kwargs)
    return suite


def crawl_suite():
    """The north-rule suite: map checks, unique url, lang distinct count and
    KL drift on lang. Used for whole-table and micro-batch validation."""
    return _suite("crawl", MAP_EXPECTATIONS + [UNIQUE_URL, LANG_DISTINCT, LANG_KL])


def row_suite():
    """The row-scoped map checks only. Their per-chunk counts merge exactly,
    so a checkpoint rollup must reproduce the whole-table verdicts."""
    return _suite("crawl_rows", MAP_EXPECTATIONS)


def grouped_suite():
    """Row checks plus unique url, grouped per domain."""
    return _suite("crawl_by_domain", MAP_EXPECTATIONS + [UNIQUE_URL])


def _map_outcome(n: int, nonnull: int, unexpected: int, mostly: float,
                 nulls_unexpected: bool) -> bool:
    nonmissing = n if nulls_unexpected else nonnull
    if nonmissing <= 0:
        return True
    return (nonmissing - unexpected) / nonmissing >= mostly


def _kl(counts: dict[str, int]) -> float:
    nonnull = sum(counts.values())
    expected = dict(zip(LANG_KL[1]["partition_object"]["values"], LANG_MIX))
    kl = 0.0
    for value, n in counts.items():
        p = n / nonnull
        q = expected.get(value, 0.0)
        if q <= 0:
            return math.inf
        kl += p * math.log(p / q)
    return kl


class Oracle:
    """Expected per-expectation outcomes, computed by DuckDB over parquet."""

    def __init__(self, files_sql: str, threads: int):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {int(threads)}")
        self.con.execute(f"CREATE VIEW crawl AS SELECT * FROM {files_sql}")

    def close(self) -> None:
        self.con.close()

    def count(self, where: str = "TRUE") -> int:
        return self.con.execute(f"SELECT count(*) FROM crawl WHERE {where}").fetchone()[0]

    def _map_select(self) -> str:
        cols = ["count(*)"]
        for _etype, kw, ok in MAP_EXPECTATIONS:
            c = kw["column"]
            if ok is None:
                cols.append(f"count(*) - count({c})")
            else:
                cols.append(f"count(*) FILTER (WHERE {c} IS NOT NULL AND NOT ({ok}))")
            cols.append(f"count({c})")
        return ", ".join(cols)

    def _map_outcomes(self, row) -> list[dict]:
        n, out = row[0], []
        for i, (_etype, kw, ok) in enumerate(MAP_EXPECTATIONS):
            unexpected, nonnull = row[1 + 2 * i], row[2 + 2 * i]
            out.append({
                "success": _map_outcome(n, nonnull, unexpected,
                                        kw.get("mostly", 1.0), ok is None),
                "unexpected_count": int(unexpected),
            })
        return out

    def _unique_outcome(self, where: str) -> dict:
        nonnull, dup = self.con.execute(
            f"SELECT (SELECT count(url) FROM crawl WHERE {where}), "
            f"(SELECT coalesce(sum(c), 0) FROM (SELECT count(*) AS c FROM crawl "
            f"WHERE {where} AND url IS NOT NULL GROUP BY url HAVING count(*) > 1))"
        ).fetchone()
        return {"success": _map_outcome(nonnull, nonnull, dup, 0.9, False),
                "unexpected_count": int(dup)}

    def row_outcomes(self, where: str = "TRUE") -> list[dict]:
        """Outcomes of ``row_suite()`` over the rows matching ``where``."""
        return self._map_outcomes(
            self.con.execute(f"SELECT {self._map_select()} FROM crawl WHERE {where}").fetchone())

    def suite_outcomes(self, where: str = "TRUE") -> list[dict]:
        """Outcomes of ``crawl_suite()`` over the rows matching ``where``."""
        out = self.row_outcomes(where)
        out.append(self._unique_outcome(where))
        counts = dict(self.con.execute(
            f"SELECT lang, count(*) FROM crawl WHERE {where} AND lang IS NOT NULL "
            "GROUP BY lang").fetchall())
        kw = LANG_DISTINCT[1]
        out.append({"success": kw["min_value"] <= len(counts) <= kw["max_value"],
                    "observed_value": len(counts)})
        kl = _kl(counts)
        out.append({"success": kl <= LANG_KL[1]["threshold"], "observed_value": kl})
        return out

    def grouped_outcomes(self) -> dict[tuple[str, int], dict]:
        """Outcomes of ``grouped_suite()`` per (domain, expectation index)."""
        rows = self.con.execute(
            f"SELECT domain, count(url), {self._map_select()} FROM crawl "
            "GROUP BY domain").fetchall()
        dups = dict(self.con.execute(
            "SELECT domain, sum(c) FROM (SELECT domain, count(*) AS c FROM crawl "
            "WHERE url IS NOT NULL GROUP BY domain, url HAVING count(*) > 1) "
            "GROUP BY domain").fetchall())
        out: dict[tuple[str, int], dict] = {}
        for domain, nonnull, *counts in rows:
            for i, o in enumerate(self._map_outcomes(counts)):
                out[(domain, i)] = o
            dup = int(dups.get(domain, 0))
            out[(domain, len(MAP_EXPECTATIONS))] = {
                "success": _map_outcome(nonnull, nonnull, dup, 0.9, False),
                "unexpected_count": dup,
            }
        return out

    def top_values(self, column: str, where: str, k: int) -> list[tuple[str, int]]:
        return [(str(v), int(n)) for v, n in self.con.execute(
            f"SELECT CAST({column} AS VARCHAR) AS v, count(*) AS n FROM crawl "
            f"WHERE {where} AND {column} IS NOT NULL GROUP BY v "
            f"ORDER BY n DESC, v ASC LIMIT {int(k)}").fetchall()]
