"""Output checks, run outside every op's timing.

* Suite entries: DuckDB runs the entry's oracle SQL over the same parquet
  files and both results are canonicalized with tests/oracle_harness.py, so
  a pass here is a pass there.
* ``b13_minhash_lsh`` has no SQL oracle (its xxhash64 signatures are
  Spark-specific): a Python replay of its signatures, banding and estimate
  filter gives the pairs it must return, so a lost pair fails; every later
  pass must reproduce the first pass's fingerprint.
* QC gestures: a model replays each gesture with DuckDB over ``events`` and
  Python sets for the selection state and the zoom stacks.
"""

from __future__ import annotations

import hashlib
import os

from workloads import FULL_WINDOW

MINHASH_ENTRY = "b13_minhash_lsh"
# The parameters b13_minhash_lsh passes to the engine.
MINHASH_HASHES, MINHASH_BANDS, MINHASH_EST_THRESHOLD = 16, 4, 0.5
MINUTE_KEY_SQL = "strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M')"


def fingerprint(pdf) -> tuple[int, str]:
    """(row count, sha256 of the harness canonicalization) of a pandas frame."""
    from tests.oracle_harness import _canon_rows, _frame_rows

    rows = _canon_rows(list(pdf.columns), _frame_rows(pdf))
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


def oracle_fingerprints(data_dir: str, names: list[str]) -> dict[str, tuple[int, str]]:
    """DuckDB oracle fingerprint of every entry in ``names`` that has one."""
    from dataselector_spark.suite import QUERIES
    from tests.oracle_harness import duckdb_con

    con = duckdb_con(data_dir)
    return {
        n: fingerprint(con.execute(QUERIES[n].oracle).df())
        for n in names
        if QUERIES[n].oracle is not None
    }


# Spark's xxhash64 is XXH64 over the UTF-8 bytes with seed 42.
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _signed(x: int) -> int:
    return x - (1 << 64) if x >> 63 else x


def xxhash64(text: str, seed: int = 42) -> int:
    """Spark SQL's ``xxhash64`` of a string, as a signed 64-bit int."""
    data, i = text.encode(), 0
    n = len(data)
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            v = [_round(v[j], int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")) for j in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for lane in v:
            h = ((h ^ _round(0, lane)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i : i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h ^= b * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return _signed(h ^ (h >> 32))


def minhash_lsh_model(texts: dict[int, str]) -> tuple[dict[tuple[int, int], float], dict[int, list[int]]]:
    """``b13_minhash_lsh`` replayed in Python: its signatures (16 wrapping
    affine mixes of the xxhash64 of each word 3-gram, minimized), its 4x4
    LSH banding and its 0.5 estimate filter. Returns the expected pairs with
    their estimates, and the signatures.

    The engine joins bands on a 32-bit hash of the band rather than the
    band itself; a hash collision can add a pair this model lacks, so
    `minhash_pairs_ok` checks extra pairs by their estimate instead."""
    from dataselector_spark.operators.dedup import _MIX_A, _MIX_B

    k, bands, rows = MINHASH_HASHES, MINHASH_BANDS, MINHASH_HASHES // MINHASH_BANDS
    sigs = {}
    for doc, text in texts.items():
        words = text.split(" ")
        hs = {xxhash64(" ".join(words[i : i + 3])) for i in range(len(words) - 2)}
        if hs:
            sigs[doc] = [min(_signed((h * _MIX_A[j] + _MIX_B[j]) & _M64) for h in hs) for j in range(k)]
    buckets: dict[tuple, list[int]] = {}
    for doc, sig in sigs.items():
        for b in range(bands):
            buckets.setdefault((b, *sig[b * rows : (b + 1) * rows]), []).append(doc)
    out = {}
    for docs in buckets.values():
        for a in docs:
            for b in docs:
                if a < b:
                    est = sum(x == y for x, y in zip(sigs[a], sigs[b])) / k
                    if est >= MINHASH_EST_THRESHOLD:
                        out[(a, b)] = est
    return out, sigs


def document_texts(data_dir: str) -> dict[int, str]:
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["doc_id", "text"])
    return dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))


def minhash_pairs_ok(pdf, texts: dict[int, str]) -> bool:
    """The LSH result over documents ``texts`` holds every pair of the model
    with the model's estimate (so a lost pair fails), plus only such extra
    pairs as a band hash collision can add: ordered, and with the estimate
    their signatures give, at least the threshold."""
    if list(pdf.columns) != ["id_a", "id_b", "est_jaccard"]:
        return False
    want, sigs = minhash_lsh_model(texts)
    got = {(a, b): est for a, b, est in pdf.itertuples(index=False, name=None)}
    if len(got) != len(pdf) or any(got.get(p) != est for p, est in want.items()):
        return False
    for (a, b), est in got.items():
        if (a, b) in want:
            continue
        if not (a < b and a in sigs and b in sigs):
            return False
        if est != sum(x == y for x, y in zip(sigs[a], sigs[b])) / MINHASH_HASHES or est < MINHASH_EST_THRESHOLD:
            return False
    return True


class EntryChecker:
    """Checks suite-entry results of one run.

    The first result of an entry is value-checked (its fingerprint against
    the oracle's, or the minhash checks); later results must reproduce that
    first fingerprint's row count and columns. Oracle fingerprints are
    computed once, after the timed passes, so DuckDB does not share the
    host with them; `verdicts` then says which entries passed."""

    def __init__(self, data_dir: str) -> None:
        self.data_dir = data_dir
        self.first: dict[str, tuple[int, str]] = {}
        self.columns: dict[str, list[str]] = {}
        self.minhash_ok = True

    def observe(self, name: str, pdf) -> bool:
        """Record one result; False if it already disagrees with the first."""
        if name not in self.first:
            self.first[name] = fingerprint(pdf)
            self.columns[name] = list(pdf.columns)
            if name == MINHASH_ENTRY:
                self.minhash_ok = minhash_pairs_ok(pdf, document_texts(self.data_dir))
            return True
        same = len(pdf) == self.first[name][0] and list(pdf.columns) == self.columns[name]
        if name == MINHASH_ENTRY:
            same = same and fingerprint(pdf) == self.first[name]
        return same

    def verdicts(self) -> dict[str, bool]:
        oracle = oracle_fingerprints(self.data_dir, [n for n in self.first if n != MINHASH_ENTRY])
        out = {n: oracle.get(n) == fp for n, fp in self.first.items()}
        if MINHASH_ENTRY in out:
            out[MINHASH_ENTRY] = self.minhash_ok
        return out


class QcModel:
    """Expected results of QC gestures: DuckDB over ``events`` for reads,
    Python sets for the selection relation, plain stacks for zoom history."""

    def __init__(self, data_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        path = os.path.join(data_dir, "events.parquet")
        self.con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
        self.reset()

    def reset(self) -> None:
        self.sel: set[tuple[str, str]] = set()
        self.stacks: dict[str, list[tuple]] = {}

    def _rows(self, sql: str, params: list) -> list[tuple]:
        return self.con.execute(sql, params).fetchall()

    def _window_keys(self, g, extra: str = "", params: tuple = ()) -> set[tuple[str, str]]:
        rows = self._rows(
            f"SELECT DISTINCT {MINUTE_KEY_SQL} FROM events "
            f"WHERE event_type = ? AND ts >= ?::TIMESTAMP AND ts < ?::TIMESTAMP {extra}",
            [g.series, g.lo, g.hi, *params],
        )
        return {(k, g.series) for (k,) in rows}

    def check(self, out) -> bool:
        """Advance the model by the gesture in ``out`` and compare."""
        g = out[0]
        if g.kind == "view":
            return self._view(out[1], out[2], out[3])
        if g.kind == "undo":
            want = self._undo_window(g.series, FULL_WINDOW)
            return (out[1].lo, out[1].hi) == want and self._view(out[1], out[2], out[3])
        if g.kind == "apply":
            keys = sorted(k for k, c in self.sel if c == g.series)
            n = self._rows(
                f"SELECT count(*) FROM events WHERE event_type = ? "
                f"AND list_contains(?::VARCHAR[], {MINUTE_KEY_SQL})",
                [g.series, keys],
            )[0][0]
            return [tuple(r) for r in out[1]] == [(n,)]
        if g.kind == "export":
            by_key: dict[str, list[str]] = {}
            for k, c in self.sel:
                by_key.setdefault(k, []).append(c)
            want = [(k, sorted(by_key[k])) for k in sorted(by_key)]
            return [(r["date_key"], list(r["compounds"])) for r in out[1]] == want
        if g.kind == "box":
            self.sel |= self._window_keys(g, "AND value BETWEEN ? AND ?", (g.vlo, g.vhi))
        elif g.kind == "toggle":
            self.sel ^= self._window_keys(g)
        elif g.kind == "zscore":
            self.sel |= self._zscore_keys(g)
        else:
            raise ValueError(f"unknown gesture kind {g.kind!r}")
        return {tuple(r) for r in out[1]} == self.sel and len(out[1]) == len(self.sel)

    def _view(self, g, ext, counts) -> bool:
        got_ext = [tuple(r) for r in ext]
        want_ext = self._rows(
            "SELECT min(ts), max(ts), min(value), max(value) FROM events "
            "WHERE event_type = ? AND ts >= ?::TIMESTAMP AND ts < ?::TIMESTAMP",
            [g.series, g.lo, g.hi],
        )
        want_counts = self._rows(
            f"SELECT {MINUTE_KEY_SQL}, count(*) FROM events "
            "WHERE event_type = ? AND ts >= ?::TIMESTAMP AND ts < ?::TIMESTAMP GROUP BY 1",
            [g.series, g.lo, g.hi],
        )
        limits = (g.lo, g.hi, want_ext[0][2] or 0.0, want_ext[0][3] or 0.0)
        stack = self.stacks.setdefault(g.series, [])
        if not stack or stack[-1] != limits:
            stack.append(limits)
        return got_ext == want_ext and sorted(tuple(r) for r in counts) == sorted(want_counts)

    def _undo_window(self, series: str, full: tuple[str, str]) -> tuple[str, str]:
        """Pop the model's zoom stack as ZoomHistory.undo must; the window
        the undo gesture has to re-render."""
        stack = self.stacks.setdefault(series, [])
        if stack:
            stack.pop()
        return stack[-1][:2] if stack else full

    def _zscore_keys(self, g) -> set[tuple[str, str]]:
        # Same exact-decimal sums and IEEE expression as
        # operators.windows.zscore_outliers.
        rows = self._rows(
            f"""
            WITH w AS (
                SELECT * FROM events
                WHERE event_type = ? AND ts >= ?::TIMESTAMP AND ts < ?::TIMESTAMP
            ),
            s AS (
                SELECT count(*) AS n,
                       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS s1,
                       CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))
                                AS DECIMAL(22,4))) AS DOUBLE) AS s2
                FROM w
            ),
            z AS (
                SELECT w.ts, (w.value - s1 / n)
                    / sqrt(CASE WHEN n > 1 THEN (s2 - s1 * s1 / n) / (n - 1) END) AS z
                FROM w, s
            )
            SELECT DISTINCT {MINUTE_KEY_SQL} FROM z WHERE abs(z) > ?
            """,
            [g.series, g.lo, g.hi, g.z],
        )
        return {(k, g.series) for (k,) in rows}
