"""Composite entry points (SURVEY.md §2.11 E1-E3) + the parser registry.

``Engine`` binds a series source (any long-format DataFrame provider keyed
by variable/series id) and exposes the reference's public API:
get_variable, get_increments, usage, plus every ts_list operator under its
reference name for the compound language.

The reference's Cassandra point-get + pushed-down column slice
(af:56-93, au:60-160) becomes a filter on (series_id, epoch) that Catalyst
pushes into the scan; the count limit becomes a per-series top-k window.
"""

from __future__ import annotations

import functools
import json

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tsengine import timeutil
from tsengine.core import TsError, from_ts_lists
from tsengine.operators import aggregates as agg
from tsengine.operators import arithmetic as arith
from tsengine.operators import increments as incr
from tsengine.operators import resample
from tsengine.operators import split as spl
from tsengine.plans.parser import Evaluator
from tsengine.typeconv import convert_or_raise


def _to_bool(v):
    # tf:134-135: expand/distr run through type_conversion(v, 'BOOLEAN')
    return convert_or_raise(v, "BOOLEAN")


def _rekey_split(df: DataFrame) -> DataFrame:
    """Rank a split frame's sub-series into list positions.

    After split(), each (series_id, bucket) pair IS a sub-series of the
    reference's FLATTENED ts_list (tf:1020), and pairwise ops match lists by
    POSITION (tf:795-799).  Re-key sub-series to their flatten position
    (dense_rank over (series_id, bucket) — the reference's list order, then
    pandas-groupby bucket order, tf:1042-1047).

    Only a consumer that aligns sub-series by position or returns them needs
    the rank; :func:`_positional` applies it at the registry boundary.  The
    merged ``inner_*`` aggregates group on (series_id, bucket) directly and
    never rank.

    Scale shape: the rank is computed over the DISTINCT (series_id, bucket)
    frame — tiny (one row per sub-series) — and broadcast-joined back, so
    the data itself never passes through a single-partition global window.
    The join carries the upstream pipeline twice, which is why the
    ``inner_*`` path avoids it."""
    keys = (
        df.select("series_id", "bucket").distinct()
        .withColumn(
            "_rk",
            (F.dense_rank().over(Window.orderBy("series_id", "bucket")) - 1).cast("long"),
        )
    )
    return (
        df.join(F.broadcast(keys), ["series_id", "bucket"])
        .select(F.col("_rk").alias("series_id"), "epoch", "value")
    )


def _is_split(x) -> bool:
    # the split frame is the only registry frame with a bucket column
    return isinstance(x, DataFrame) and "bucket" in x.columns


def _ranked(x):
    return _rekey_split(x) if _is_split(x) else x


def _positional(fn):
    """Registry boundary for every consumer that sees sub-series by list
    position: a split frame argument is ranked (:func:`_rekey_split`)
    before ``fn`` runs."""

    @functools.wraps(fn)
    def call(*args, **kw):
        return fn(*[_ranked(a) for a in args], **kw)

    return call


def _merged(fn):
    """Reference aggregate semantics: inner_*/last merge per-series results
    into ONE frame (merge_agg_func, tf:433-447) whose index is the per-series
    stamps; downstream pairwise ops then align on epoch alone.

    Over a split frame each (series_id, bucket) pair is one sub-series, so
    an inner_* aggregate groups on both columns: the same rows as grouping
    on the sub-series' list positions, without computing them."""

    def call(df, **kw):
        if _is_split(df):
            kw["group_cols"] = ["series_id", "bucket"]
        return _at_zero(fn(df, **kw))

    return call


def _at_zero(df: DataFrame) -> DataFrame:
    """``df`` as a ts_list of ONE series, list position 0, so pairwise ops
    align positionally (tf:795-799)."""
    return df.selectExpr("CAST(0 AS BIGINT) AS series_id", "epoch", "value")


class Engine:
    def __init__(self, spark: SparkSession, source: DataFrame):
        """source: long-format frame (series_id, epoch, value) — the
        'variables' store (replaces Postgres+Cassandra, af:56-93)."""
        self.spark = spark
        self.source = source
        self.evaluator = Evaluator(self.registry())

    # ---------------------------------------------------------------- E1
    def get_variable(
        self,
        id_variable,
        time_int=300,
        expand=True,
        now=None,
        distr=True,
        int_type="left_open",
        fill_value=None,
        **kwargs,
    ) -> DataFrame:
        """tf:109-202, re-expressed lazily.  `now` is required (no wall
        clock).  Returns a one-series frame."""
        try:
            time_int = int(time_int)
            expand = _to_bool(expand)
            distr = _to_bool(distr)
        except (TypeError, ValueError):
            raise TsError("parameters do not have required format")  # tf:137
        if now is None:
            raise TsError("now is required (no wall clock in the engine)")
        try:
            now = int(now)
        except (TypeError, ValueError):
            raise TsError("time reference received is not an epoch")  # tf:157

        cc = kwargs.get("count", False)
        if cc:
            try:
                cc = int(cc)
            except (TypeError, ValueError):
                raise TsError(f"count argument is not an integer: {cc!s}")  # tf:148
            kwargs["count"] = cc * time_int  # over-provision (tf:143-149)
        time_ref = time_int * (now // time_int)  # truncate now (tf:158)

        rng = timeutil.column_range(kwargs, now=time_ref, int_type=int_type)
        df = self.source.where(F.expr(f"series_id = {int(id_variable)}") & rng.predicate())
        if rng.limit is not None:
            df = agg.last(df, number=rng.limit)

        # expand clamps (tf:173-185): e_to <= now+1yr, e_from >= 2013-01-01
        q_to = min(rng.hi, now + timeutil.YEAR) if (rng.hi is not None and expand) else None
        q_from = max(rng.lo, 1356994800) if (rng.lo is not None and expand) else None

        if cc is False and rng.limit is not None:
            cc = rng.limit

        df = df.selectExpr("series_id", "epoch", "CAST(value AS DOUBLE) AS value")
        if distr:
            df = resample.distribute(df, seconds=time_int, e_to=q_to, e_from=q_from,
                                     fill_value=fill_value)
        if cc:
            df = agg.last(df, number=cc)
        return _at_zero(df)

    # ---------------------------------------------------------------- E2
    def get_increments(
        self, id_variable, time_int=300, expand=True, now=None, distr=True, **kwargs
    ) -> DataFrame:
        """tf:1112-1215: closed interval + one extra pre-window point so the
        first in-window increment is computable (tf:1171-1179) — here the
        extra point is the per-series last row BELOW the window, taken by the
        same window as the in-range rows instead of a second store fetch."""
        time_int = int(time_int)
        expand = _to_bool(expand)
        distr = _to_bool(distr)
        if now is None:
            raise TsError("now is required (no wall clock in the engine)")
        now = int(now)

        cc = kwargs.get("count", False)
        if cc:
            cc = int(cc)
            kwargs["count"] = cc * time_int
        time_ref = time_int * (now // time_int)

        rng = timeutil.column_range(kwargs, now=time_ref, int_type="closed")
        # one `epoch <= hi` scan and one descending window give both the
        # in-range rows (the newest `limit` of them) and the anchor: the
        # first row below `lo`, i.e. the one whose predecessor is in range
        scan = f"series_id = {int(id_variable)}"
        if rng.hi is not None:
            scan += f" AND epoch <= {int(rng.hi)}"
        desc = "OVER (PARTITION BY series_id ORDER BY epoch DESC)"
        keep = "TRUE" if rng.limit is None else f"_rn <= {int(rng.limit)}"
        if rng.lo is not None:
            lo = int(rng.lo)
            keep = f"CASE WHEN epoch >= {lo} THEN {keep} ELSE _prev IS NULL OR _prev >= {lo} END"
        df = (
            self.source.where(scan)
            .selectExpr("series_id", "epoch", "value",
                        f"row_number() {desc} AS _rn", f"lag(epoch) {desc} AS _prev")
            .where(keep)
            .selectExpr("series_id", "epoch", "CAST(value AS DOUBLE) AS value")
        )

        q_to = rng.hi if (rng.hi is not None and expand) else None
        q_from = rng.lo if (rng.lo is not None and expand) else None
        if cc is False and rng.limit is not None:
            cc = rng.limit

        if distr:
            df = resample.distribute(df, seconds=time_int, e_to=q_to, e_from=q_from)
        df = incr.increments(df, validate=False)
        if cc:
            df = agg.last(df, number=cc)
        return _at_zero(df)

    # ---------------------------------------------------------------- E3
    def usage(self, id_variable, **kwargs) -> DataFrame:
        """tf:1218-1223."""
        group_by = kwargs.pop("group_by", None)
        inc = self.get_increments(id_variable, **kwargs)
        if group_by:
            inc = spl.split(inc, period=group_by)
        return _merged(agg.inner_sum)(inc)

    # ---------------------------------------------------------------- registry
    def registry(self) -> dict:
        """Function table for the compound language — reference names
        (the tf module namespace, cp:57-60) -> engine callables."""
        spark = self.spark

        def generate_ts_list(data: str) -> DataFrame:
            tsl = json.loads(data)
            if not isinstance(tsl, list):
                raise TsError("data received is not a list")
            series = []
            for ts in tsl:
                if not ts.get("value") or not ts.get("index"):
                    raise TsError("incorrect data received")
                series.append(list(zip(ts["index"], [float(v) for v in ts["value"]])))
            return from_ts_lists(spark, series)

        def distribute_ts_list(df, seconds=300, e_to=False, e_from=False, fill_value=None):
            # argument-format errors with the reference's exact messages
            # (tf:232, tf:238, tf:243)
            try:
                e_to = int(e_to) if e_to else None
            except (TypeError, ValueError):
                raise TsError("e_to must be an epoch")
            try:
                e_from = int(e_from) if e_from else None
            except (TypeError, ValueError):
                raise TsError("e_from must be an epoch")
            try:
                seconds = int(seconds)
            except (TypeError, ValueError):
                raise TsError("seconds must be an integer")
            return resample.distribute(
                df,
                seconds=seconds,
                e_to=e_to,
                e_from=e_from,
                fill_value=float(fill_value) if fill_value is not None else None,
            )

        def increments_fn(df, monotony="increasing", max_value=None, reset_value=0.0,
                          validate=True):
            # The compound language is the parity layer, so it keeps the
            # reference's eager validation: out-of-range values raise TsError
            # AT CALL TIME, same exception type and timing as tf:356-365
            # (ADVICE r2).  Scale pipelines that want the one-plan story pass
            # validate="lazy" explicitly (raise_error inside the single job,
            # increments.py:47-67) or call the operator directly.
            try:
                max_value = float(max_value) if max_value is not None else None
            except (TypeError, ValueError):
                raise TsError("max_value is not a number")  # tf:349
            try:
                reset_value = float(reset_value)
            except (TypeError, ValueError):
                raise TsError("reset_value is not a number")  # tf:354
            return incr.increments(
                df,
                monotony=monotony,
                max_value=max_value,
                reset_value=reset_value,
                validate=validate,
            )

        def split_fn(df, period="day"):
            # keyed by (series_id, bucket); positions are assigned only
            # where a consumer needs them (_positional, query)
            return spl.split(df, period=period)

        def scalar(fn):
            def call(df, number):
                try:
                    number = float(number)
                except (TypeError, ValueError):
                    raise TsError("number is not numeric")  # tf:601
                return fn(df, number)

            return call

        reg = {
            "generate_ts_list": generate_ts_list,
            "distribute_ts_list": distribute_ts_list,
            "increments": increments_fn,
            "split": split_fn,
            "inner_sum": _merged(agg.inner_sum),
            "inner_max": _merged(agg.inner_max),
            "inner_min": _merged(agg.inner_min),
            "inner_mean": _merged(agg.inner_mean),
            "inner_std": _merged(agg.inner_std),
            # last has no group_cols: its split argument is ranked first
            "last": _merged(lambda df, number=1: agg.last(df, number=int(number))),
            "scalar_product": scalar(arith.scalar_product),
            "scalar_sum": scalar(arith.scalar_sum),
            "scalar_division": scalar(arith.scalar_division),
            "scalar_sub": scalar(arith.scalar_sub),
            "scalar_power": scalar(arith.scalar_power),
            "addition": arith.addition,
            "subtraction": arith.subtraction,
            "product": arith.product,
            "division": arith.division,
            "get_variable": lambda id_variable, **kw: self.get_variable(id_variable, **kw),
            "get_increments": lambda id_variable, **kw: self.get_increments(id_variable, **kw),
            "usage": lambda id_variable, **kw: self.usage(id_variable, **kw),
        }
        return {k: fn if k.startswith("inner_") else _positional(fn)
                for k, fn in reg.items()}

    def query(self, text: str) -> DataFrame:
        """Evaluate a compound formula to a (lazy) DataFrame.  A split
        result is returned by list position, like every positional
        consumer sees it."""
        return _ranked(self.evaluator.run(text))
