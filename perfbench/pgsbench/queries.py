"""The seeded selective-read mix of the ``lookup`` workload.

Each query is one predicate in the engine's ``prune`` contract
(``[(column, op, value)]``) plus the exact filter the caller re-applies,
expressed once as data and rendered for Spark (``spark_filter``) and
for pyarrow (``arrow_mask``)."""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# one query of each kind per cycle, point lookups twice (one of them for
# a url outside the window, so the bloom tier proves absence)
MIX = ("url", "ts", "lang", "url", "ts", "url_miss")
TS_WIDTH_US = 60_000_000
# timestamp predicates carry epoch microseconds, as the prune contract
# compares them with the int64 chunk bounds
TS_COLUMNS = {"warc_ts"}


@dataclass(frozen=True)
class Query:
    qid: int
    kind: str
    prune: tuple  # ((column, op, value), ...)

    def spark_filter(self):
        from pyspark.sql import functions as F

        cond = None
        for col, op, value in self.prune:
            c = F.col(col)
            if col in TS_COLUMNS:
                value = F.timestamp_micros(F.lit(value))
            term = {
                "==": lambda: c == F.lit(value),
                ">=": lambda: c >= F.lit(value),
                "<=": lambda: c <= F.lit(value),
                "in": lambda: c.isin(list(value)),
            }[op]()
            cond = term if cond is None else cond & term
        return cond

    def arrow_mask(self, table: pa.Table):
        mask = None
        for col, op, value in self.prune:
            c = table.column(col)
            if col in TS_COLUMNS:
                value = pa.scalar(value, pa.timestamp("us", tz=c.type.tz)).cast(c.type)
            term = {
                "==": lambda: pc.equal(c, value),
                ">=": lambda: pc.greater_equal(c, value),
                "<=": lambda: pc.less_equal(c, value),
                "in": lambda: pc.is_in(c, value_set=pa.array(list(value))),
            }[op]()
            mask = term if mask is None else pc.and_(mask, term)
        return pc.fill_null(mask, False)


def _rows(ids: list[int]):
    from parquet_go_spark.spark.pages_table import _gen_block

    return _gen_block(np.asarray(ids, dtype=np.int64))


def build_queries(seed: int, window: tuple[int, int], n: int) -> list[Query]:
    """``n`` queries drawn from ``seed``: point lookups on urls of rows
    inside (and one outside) the window, ``warc_ts`` ranges starting at
    a row's timestamp, and ``lang in`` pairs."""
    from parquet_go_spark.spark.pages_table import _LANGS

    rng = random.Random(f"queries:{seed}")
    start, stop = window
    # every language but "en" covers 1/31 of the rows, so each "lang in"
    # answer has the same size whatever the seed picks
    langs = sorted(set(_LANGS.tolist()) - {"en"})
    out: list[Query] = []
    for qid in range(n):
        kind = MIX[qid % len(MIX)]
        if kind == "url":
            url = _rows([rng.randrange(start, stop)])["url"][0]
            prune = (("url", "==", url),)
        elif kind == "url_miss":
            url = _rows([stop + rng.randrange(1, 1_000_000)])["url"][0]
            prune = (("url", "==", url),)
        elif kind == "ts":
            lo = int(_rows([rng.randrange(start, stop)])["warc_ts"].astype("int64")[0]) // 1000
            prune = (("warc_ts", ">=", lo), ("warc_ts", "<=", lo + TS_WIDTH_US))
        else:
            prune = (("lang", "in", tuple(sorted(rng.sample(langs, 2)))),)
        out.append(Query(qid, kind, prune))
    return out
