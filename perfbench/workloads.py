"""The benchmark's workloads: what one op is and what one pass runs.

* ``qc_session`` — a scripted analyst session over ``events``: the five
  ``event_type`` values are the QC series; each gesture is one op that ends
  in the user-facing ``collect()``. The seed draws the parameters of a fixed
  sequence of gestures; every pass replays the same script from an empty
  selection and an empty zoom history.
* ``batch`` — suite entries; one op is the entry build plus ``toPandas()``
  of its result. The seed permutes the entry order of each pass.

Spark-side calls go through the engine's module attributes
(``selection.select_insert``), so a traced run sees them.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass

# Four suite entries, one per layer that qc_session barely touches: the
# reference read path as one query (scan, aggregate, exchanges), a
# micro-batch stream (streaming), MinHash/LSH with its eager build-time
# checkpoint and band self-join (operators.dedup, functions.text, shuffle)
# and binary payloads (multimodal). Sized so that a run with its set-ups
# fits the run budget: a warm pass takes about 4-6 s on local[4].
BATCH = [
    "flagship_minute_flag_counts",
    "b17_stream_tumbling",
    "b13_minhash_lsh",
    "b16_ahash_neardup",
]

QC_SERIES = ["click", "view", "purchase", "signup", "error"]
# The script: one session in a fixed order, so that seeds vary what the
# analyst looks at (series, windows, boxes, thresholds) but not the order
# of reads and writes. The gesture kinds are the
# reference UI's three entry points (SURVEY.md section 3): re-render on a
# view change (view, undo, apply), the drag gesture's selection write (box,
# toggle, zscore flags) and export. The mix and order, like the window and
# box sizes qc_script draws, are an unverified assumption, not measured
# traffic: the reference publishes no gesture traces (BASELINE.md). They put
# reads beside writes, so a gain on reads that costs the selection-state
# path shows in the same pass; do not tune the engine to this mix as if it
# were measured.
QC_KINDS = ["view", "box", "view", "apply", "zscore", "toggle", "undo", "export"]
QC_START = dt.datetime(2024, 1, 1)
QC_DAYS = 30

WORKLOADS = ("qc_session", "batch")
# Warm passes per run, fixed: the JIT keeps speeding the Spark driver up
# from pass to pass (5-25% per pass), so `wall_s` must cover the same passes
# on every host and commit, never a count that depends on how fast passes
# run. Two is what the run budget leaves room for.
WARM_PASSES = 2


@dataclass(frozen=True)
class Gesture:
    kind: str
    series: str
    lo: str = ""  # window [lo, hi) on ts, 'YYYY-MM-DD HH:MM:SS'
    hi: str = ""
    vlo: float = 0.0  # box value range
    vhi: float = 0.0
    z: float = 0.0


def _stamp(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


# What an undo past the first view re-renders: the whole series.
FULL_WINDOW = (_stamp(QC_START), _stamp(QC_START + dt.timedelta(days=QC_DAYS)))


def qc_script(seed: int) -> list[Gesture]:
    """The gesture script for ``seed``: QC_KINDS with seeded series,
    windows, value boxes and z thresholds."""
    rng = random.Random(seed)
    out = []
    for kind in QC_KINDS:
        series = rng.choice(QC_SERIES)
        hours = {
            "view": rng.choice([6, 24, 72]),
            "box": rng.choice([6, 12, 24]),
            "toggle": rng.choice([1, 2]),
            "zscore": rng.choice([24, 48]),
        }.get(kind, 0)
        start = QC_START + dt.timedelta(minutes=rng.randrange(0, (QC_DAYS * 24 - hours) * 60 + 1))
        lo, hi = (_stamp(start), _stamp(start + dt.timedelta(hours=hours))) if hours else ("", "")
        vlo = round(rng.uniform(0.0, 100.0), 2) if kind == "box" else 0.0
        out.append(
            Gesture(
                kind,
                series,
                lo,
                hi,
                vlo,
                round(vlo + rng.uniform(20.0, 150.0), 2) if kind == "box" else 0.0,
                rng.choice([2.0, 2.5, 3.0]) if kind == "zscore" else 0.0,
            )
        )
    return out


def batch_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    """Entry order of one pass: a seeded permutation, new for every pass."""
    order = list(names)
    random.Random(seed * 1_000_003 + pass_no).shuffle(order)
    return order


class QcSession:
    """Spark side of a QC session: the selection relation and the zoom
    history the gestures act on."""

    def __init__(self, ctx) -> None:
        from dataselector_spark.session_state import ZoomHistory

        self.ctx = ctx
        self.zoom = ZoomHistory()
        self.sel = ctx.spark.createDataFrame([], "date_key string, compound string")

    def _events(self):
        from dataselector_spark import catalog

        return catalog.load_table(self.ctx.spark, self.ctx.data, "events")

    def _window(self, g: Gesture):
        from pyspark.sql import functions as F

        return self._events().filter(
            (F.col("event_type") == g.series) & (F.col("ts") >= g.lo) & (F.col("ts") < g.hi)
        )

    def _keys(self, df, compound):
        from dataselector_spark.functions import keys

        return df.select(keys.minute_key("ts").alias("date_key"), compound.alias("compound"))

    def _write(self, new_sel):
        # The selection relation is materialized after every write:
        # select_toggle reads its input twice, so an unmaterialized chain
        # would double its plan on every gesture.
        self.sel = new_sel.localCheckpoint()
        return self.ctx.collect(self.sel)

    def run(self, g: Gesture):
        from pyspark.sql import functions as F

        from dataselector_spark.functions import keys
        from dataselector_spark.operators import extents, selection, windows
        from dataselector_spark.session_state import Limits

        if g.kind in ("view", "undo"):
            view = g
            if g.kind == "undo":
                prev = self.zoom.undo(g.series, "ts", "value")
                lo, hi = (
                    FULL_WINDOW
                    if prev is None
                    else (_stamp(_from_epoch(prev.x_min)), _stamp(_from_epoch(prev.x_max)))
                )
                view = Gesture("view", g.series, lo, hi)
            w = self._window(view)
            ext = self.ctx.collect(extents.extents(w, "ts", "value"))
            counts = self.ctx.collect(w.groupBy(keys.minute_key("ts").alias("date_key")).count())
            r = ext[0]
            self.zoom.record(
                g.series,
                "ts",
                "value",
                Limits(_epoch(view.lo), _epoch(view.hi), r["value_min"] or 0.0, r["value_max"] or 0.0),
            )
            return g, view, ext, counts
        if g.kind == "apply":
            data = self._events().filter(F.col("event_type") == g.series)
            data = data.withColumn("date_key", keys.minute_key("ts"))
            sel = self.sel.filter(F.col("compound") == g.series)
            hits = selection.apply_selections(data, sel, "date_key")
            return g, self.ctx.collect(hits.agg(F.count(F.lit(1)).alias("n")))
        if g.kind == "export":
            return g, self.ctx.collect(selection.export_selections(self.sel))
        if g.kind == "box":
            w = self._window(g).filter(F.col("value").between(g.vlo, g.vhi))
            return g, self._write(selection.select_insert(self.sel, self._keys(w, F.lit(g.series))))
        if g.kind == "toggle":
            hits = self._keys(self._window(g), F.lit(g.series))
            return g, self._write(selection.select_toggle(self.sel, hits))
        if g.kind == "zscore":
            scored = windows.zscore_outliers(self._window(g), ["event_type"], "value", g.z)
            flagged = self._keys(scored.filter("is_outlier"), F.col("event_type"))
            return g, self._write(selection.select_insert(self.sel, flagged))
        raise ValueError(f"unknown gesture kind {g.kind!r}")


def _epoch(stamp: str) -> float:
    return dt.datetime.strptime(stamp, "%Y-%m-%d %H:%M:%S").replace(tzinfo=dt.timezone.utc).timestamp()


def _from_epoch(sec: float) -> dt.datetime:
    return dt.datetime.fromtimestamp(sec, dt.timezone.utc).replace(tzinfo=None)
