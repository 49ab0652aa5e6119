"""Independent oracles for the benchmark's correctness check.

- ``spec_index``: the inverted index built from the word-per-line files by
  SURVEY.md Appendix A's executable spec (verified golden-exact against
  the reference program), with no Spark involved.
- ``parse_index_output``: reads the ``word: (file: line), ...`` lines the
  CLI writes, so the two can be compared as multisets.
- ``duck_views``: DuckDB views over the generated parquet tables, for the
  registry queries' ``oracle_sql`` twins.
"""

from __future__ import annotations

import os
import re

_LEADING = re.compile(r"[a-z0-9]*")
_POSTING = re.compile(r"\(([^:()]+): (\d+)\)")


def normalize_file(path: str):
    """Yield ``(word, 1-based line number)`` as SURVEY.md Appendix A does:
    every physical line consumes a number, the 49-byte read buffer
    truncates, the leading ``[a-z0-9]`` run of the lowered line is the
    word, and empty words are dropped."""
    with open(path, "rb") as fh:
        for i, raw in enumerate(fh, start=1):
            w = _LEADING.match(raw[:49].decode("latin1").lower()).group(0)
            if w:
                yield w, i


def spec_index(paths: list[str]) -> dict[str, list[tuple[str, int]]]:
    out: dict[str, list[tuple[str, int]]] = {}
    for p in paths:
        name = os.path.basename(p)
        for w, i in normalize_file(p):
            out.setdefault(w, []).append((name, i))
    return {w: sorted(v) for w, v in out.items()}


def parse_index_output(path: str) -> dict[str, list[tuple[str, int]]]:
    out: dict[str, list[tuple[str, int]]] = {}
    with open(path, encoding="latin-1") as fh:
        for line in fh:
            word, _, rest = line.rstrip("\n").partition(": ")
            if word in out:
                raise ValueError(f"word {word!r} appears on two lines")
            out[word] = sorted((f, int(n)) for f, n in _POSTING.findall(rest))
    return out


def index_diff(got: dict, want: dict) -> list[str]:
    """The first few human-readable differences between two indexes; empty
    if equal."""
    diffs = [f"missing word {w!r}" for w in sorted(want.keys() - got.keys())]
    diffs += [f"extra word {w!r}" for w in sorted(got.keys() - want.keys())]
    diffs += [f"postings differ for {w!r}" for w in sorted(want.keys() & got.keys())
              if got[w] != want[w]]
    return diffs[:3]


def duck_views(data_dir: str, tables):
    """A DuckDB connection with one view per generated table, named as the
    registry's ``oracle_sql`` twins expect."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


class Collected:
    """Rows already drained from a DataFrame, shaped like the DataFrame so
    ``tests.oracle.compare`` can check them without running it again."""

    def __init__(self, columns, rows):
        self.columns = list(columns)
        self._rows = rows

    def collect(self):
        return self._rows
