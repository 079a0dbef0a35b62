"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet, then compares row count, column names, and an
order-insensitive value hash (floats canonicalized via repr of round-trip).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from cdc_streamming___v2_spark import TABLES  # noqa: E402
from cdc_streamming___v2_spark.session import get_spark  # noqa: E402


def _canon(v) -> str:
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "\0NaN"
        # collapse float noise below 1e-9 relative
        return repr(round(v, 9))
    if isinstance(v, bool):
        return f"bool:{v}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


_DRIVER_UNSAFE_TYPES = ("HUGEINT", "UHUGEINT")


def _canon_pd(v) -> str:
    """Canonicalize a cell the way the driver's pandas path renders it.

    The driver hashes both sides from pandas frames (DuckDB via ``.df()``,
    Spark via a frame built from collected rows).  Two lossy coercions are
    verified driver-safe and mirrored here: DECIMAL -> float (DuckDB ``.df()``
    emits float64 for DECIMAL; media_byte_histogram carried one and passed
    r06), and NULL-in-numeric -> NaN (both engines' frames coerce).  numpy
    scalars unwrap to Python before reusing ``_canon`` so int64(3750) and
    3750 hash identically.
    """
    import datetime
    import decimal

    import numpy as np
    import pandas as pd

    if v is None:
        return "\0NULL"
    if v is pd.NaT:
        # NULL timestamp from DuckDB .df(): NaT is a datetime instance, so
        # without this it would canonicalize to the string 'NaT' while the
        # Spark-side None canonicalizes to '\0NULL' (ADVICE r7)
        return "\0NULL"
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return "\0NULL"  # pandas frames collapse NULL/NaN in float columns
    if isinstance(v, decimal.Decimal):
        return _canon(float(v))
    if isinstance(v, pd.Timestamp):
        return str(v.to_pydatetime())
    if isinstance(v, datetime.datetime):
        return str(v)
    if isinstance(v, datetime.date):
        # pandas has no date-only dtype: DuckDB DATE -> datetime64 midnight,
        # so a Spark date canonicalizes to the same midnight rendering
        return f"{v} 00:00:00"
    if isinstance(v, np.ndarray):
        return "[" + ",".join(_canon_pd(x) for x in v.tolist()) + "]"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_pd(x) for x in v) + "]"
    if isinstance(v, dict):
        return (
            "{"
            + ",".join(
                f"{k}:{_canon_pd(x)}" for k, x in sorted(v.items())
            )
            + "}"
        )
    return _canon(v)


def pandas_table_hash(frame) -> str:
    """Order-insensitive hash of a pandas frame via the driver's coercions."""
    cols = sorted(frame.columns)
    h = hashlib.sha256()
    rows = sorted(
        "|".join(_canon_pd(v) for v in row)
        for row in frame[cols].itertuples(index=False, name=None)
    )
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def driver_unsafe_columns(con, sql: str) -> list:
    """Final-output columns whose DuckDB type the driver canonicalizes lossily.

    The driver hashes the oracle side from a pandas frame: HUGEINT/UHUGEINT
    become float64 (``3750.0``) while the Spark twin emits int64 (``3750``) —
    a guaranteed hash mismatch even when values are identical (round-6 verdict:
    dynamodb/debezium_flat went red exactly this way).  ``fetchall()`` — which
    this checker hashes from — yields native Python ints and hides the class,
    so we flag it from the *bound relation types* instead.  DECIMAL final
    columns are verified-safe (media_byte_histogram carried one and passed).
    """
    rel = con.sql(sql)
    return [
        c for c, t in zip(rel.columns, rel.types)
        if str(t) in _DRIVER_UNSAFE_TYPES
    ]


def table_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    canon_rows = sorted(
        "|".join(_canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for r in canon_rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    argv = [a for a in sys.argv[1:] if a not in ("--pandas", "--negzero")]
    pd_mode = "--pandas" in sys.argv[1:]
    negz_mode = "--negzero" in sys.argv[1:]
    # --log=PATH: ALSO write each status line to a file, line-buffered.
    # Spark's progress bars garble stdout (14 of 461 lines lost in one
    # full-gate run), so grepping stdout under-counts; the log file is
    # the clean record.
    log_path = None
    for a in list(argv):
        if a.startswith("--log="):
            log_path = a.split("=", 1)[1]
            argv.remove(a)
    log_f = open(log_path, "w", buffering=1) if log_path else None

    def emit(line: str) -> None:
        print(line)
        if log_f:
            log_f.write(line + "\n")

    negz_hits: list[str] = []
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):  # multi-file table (the .scale corpora)
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            emit(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            emit(f"ROWS  {name}: {len(srows)} rows (no oracle) "
                 f"[{time.time()-t0:.1f}s]")
            continue
        try:
            unsafe = driver_unsafe_columns(con, oracles[name])
            if pd_mode:
                # --pandas is the driver-faithful path and the driver hashes
                # only from frames, so fetch the oracle ONCE via .df() (the
                # old flow ran every oracle twice — fetchall for the row-hash
                # plus .df() for the pandas hash — doubling DuckDB cost on
                # the expensive graph/ADC oracles; ADVICE r7).  drows is
                # derived from the frame for the count/negzero paths only.
                dpdf = con.execute(oracles[name]).df()
                dcols = list(dpdf.columns)
                drows = list(dpdf.itertuples(index=False, name=None))
            else:
                dpdf = None
                cur = con.execute(oracles[name])
                dcols = [d[0] for d in cur.description]
                drows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            emit(f"FAIL  {name}: duckdb error: {e}")
            continue
        if unsafe:
            failures.append(name)
            print(
                f"FAIL  {name}: oracle emits driver-unsafe final column "
                f"type(s) {unsafe} (HUGEINT -> pandas float64 vs Spark "
                f"int64); CAST(... AS BIGINT) in the oracle"
            )
            continue

        if negz_mode:
            # latent-hazard lint: a cell that is exactly IEEE -0.0 on EITHER
            # side hashes fine while both engines agree, but the agreement is
            # data-dependent (retention_decay_fit flipped at sf0.1 only).
            # Any signed expression that can round to zero should fold the
            # sign with `+ 0.0` on both sides; this sweep finds the ones
            # that haven't.
            def _negz(rows):
                return any(
                    isinstance(v, float) and v == 0.0
                    and math.copysign(1.0, v) < 0
                    for r in rows for v in r
                )

            if _negz(srows) or _negz(drows):
                negz_hits.append(name)
                print(f"NEGZ  {name}: -0.0 present "
                      f"(spark={_negz(srows)} duck={_negz(drows)})")

        ok_count = len(srows) == len(drows)
        ok_cols = sorted(scols) == sorted(dcols)
        ok_pd = True
        pd_note = ""
        if pd_mode:
            # driver-faithful path: both sides hashed from pandas frames
            # (DuckDB .df(); Spark rows -> frame), so coercion classes that
            # fetchall() hides (HUGEINT->float64, NULL/NaN folding) surface
            # locally instead of in CORRECTNESS_r{N}.  The fetchall row-hash
            # is NOT computed here: the oracle was fetched only as a frame,
            # and the frame's numpy typing would make table_hash spurious.
            import pandas as pd

            spdf = pd.DataFrame([tuple(r) for r in srows], columns=scols)
            ok_hash = True
            if ok_cols:
                ok_pd = pandas_table_hash(spdf) == pandas_table_hash(dpdf)
            pd_note = f" pdhash={'ok' if ok_pd else 'MISMATCH'}"
        else:
            sh = table_hash([tuple(r) for r in srows], scols)
            dh = table_hash(drows, dcols)
            ok_hash = sh == dh
        status = "OK  " if (ok_count and ok_cols and ok_hash and ok_pd) else "FAIL"
        if status == "FAIL":
            failures.append(name)
        # in pd_mode the fetchall row-hash is never computed (ok_hash is a
        # bypass constant), so say "skipped" rather than implying it passed
        hash_note = (
            "skipped" if pd_mode else ("ok" if ok_hash else "MISMATCH")
        )
        emit(
            f"{status}  {name}: rows {len(srows)}/{len(drows)} "
            f"cols={'ok' if ok_cols else f'{sorted(scols)} vs {sorted(dcols)}'} "
            f"hash={hash_note}{pd_note} "
            f"[{time.time()-t0:.1f}s]"
        )
        if not ok_pd and ok_count and ok_cols:
            # pdhash mismatch: diff via the pandas canonicalization
            csort = sorted(scols)
            sset = {
                "|".join(_canon_pd(v) for v in row)
                for row in spdf[csort].itertuples(index=False, name=None)
            }
            dset = {
                "|".join(_canon_pd(v) for v in row)
                for row in dpdf[csort].itertuples(index=False, name=None)
            }
            for r in list(sset - dset)[:3]:
                print(f"      spark-only: {r[:200]}")
            for r in list(dset - sset)[:3]:
                print(f"      duck-only:  {r[:200]}")
        elif not ok_hash and ok_count and ok_cols:
            # print a few diffing rows to debug
            order_s = sorted(range(len(scols)), key=lambda i: scols[i])
            order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
            sset = {"|".join(_canon(r[i]) for i in order_s) for r in srows}
            dset = {"|".join(_canon(r[i]) for i in order_d) for r in drows}
            for r in list(sset - dset)[:3]:
                print(f"      spark-only: {r[:200]}")
            for r in list(dset - sset)[:3]:
                print(f"      duck-only:  {r[:200]}")

    if negz_mode:
        print(f"negzero hits: {len(negz_hits)}"
              + (f": {negz_hits}" if negz_hits else ""))
    emit(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    if log_f:
        log_f.close()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
