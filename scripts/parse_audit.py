"""Round-17 randomized PARSE-side %-token audit (verdict r16 item 3).

The FORMAT direction of the %-token machinery got randomized
evaluate-and-compare treatment in r13/r16; this is the PARSE twin:
parseDateTime / parseDateTimeOrNull / parseDateTimeBestEffort* against
two independent references — Python datetime.strptime and DuckDB
strptime — over ~60 random (format, value) pairs plus directed corners
(2-digit years around the century pivot, %k unpadded hours, %j day-of-
year, %f fractional seconds, the composite %D %F %T %R %r shapes, and
the best-effort fallback formats).

Reference conventions that DIFFER by design (handled in expectations):
- %y pivot: MySQL/CH map 00-69→20xx and 70-99→19xx; Python POSIX maps
  00-68→20xx and 69-99→19xx.  Value 69 is pinned to the MySQL side
  (CH follows MySQL's table) and excluded from the Python comparison.
- %f: CH parseDateTime returns DateTime (seconds); this engine keeps
  the micros (DateTime64 stance, documented) — Python keeps micros too.

Usage: python scripts/parse_audit.py [n_random]
"""

from __future__ import annotations

import random
import sys
from datetime import datetime
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb

from mcp_clickhouse_spark.dialect import DialectError, translate
from mcp_clickhouse_spark.session import get_spark

MONTHS_ABBR = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
               "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
MONTHS_FULL = ["January", "February", "March", "April", "May", "June",
               "July", "August", "September", "October", "November",
               "December"]


def render(dt: datetime, fmt: str) -> str:
    """Render dt through CH %-tokens (the value the user would feed)."""
    out = []
    i = 0
    while i < len(fmt):
        if fmt[i] != "%":
            out.append(fmt[i])
            i += 1
            continue
        c = fmt[i + 1]
        i += 2
        h12 = dt.hour % 12 or 12
        out.append({
            "Y": f"{dt.year:04d}", "y": f"{dt.year % 100:02d}",
            "m": f"{dt.month:02d}", "c": f"{dt.month:02d}",
            "d": f"{dt.day:02d}", "H": f"{dt.hour:02d}",
            "k": str(dt.hour), "h": f"{h12:02d}", "I": f"{h12:02d}",
            "l": str(h12),
            "i": f"{dt.minute:02d}", "s": f"{dt.second:02d}",
            "S": f"{dt.second:02d}",
            "p": "AM" if dt.hour < 12 else "PM",
            "b": MONTHS_ABBR[dt.month - 1],
            "M": MONTHS_FULL[dt.month - 1],
            "j": f"{dt.timetuple().tm_yday:03d}",
            "D": f"{dt.month:02d}/{dt.day:02d}/{dt.year % 100:02d}",
            "F": f"{dt.year:04d}-{dt.month:02d}-{dt.day:02d}",
            "T": f"{dt.hour:02d}:{dt.minute:02d}:{dt.second:02d}",
            "R": f"{dt.hour:02d}:{dt.minute:02d}",
            "r": f"{h12:02d}:{dt.minute:02d}:{dt.second:02d} "
                 + ("AM" if dt.hour < 12 else "PM"),
            "f": f"{dt.microsecond:06d}",
            "%": "%",
        }[c])
    return "".join(out)


# CH %-token → Python strptime token (None = not comparable in Python)
PY_TOKEN = {
    "Y": "%Y", "y": "%y", "m": "%m", "c": "%m", "d": "%d", "H": "%H",
    "k": "%H", "h": "%I", "I": "%I", "l": "%I", "i": "%M", "s": "%S",
    "S": "%S", "p": "%p", "b": "%b", "M": "%B", "j": "%j",
    "D": "%m/%d/%y", "F": "%Y-%m-%d", "T": "%H:%M:%S", "R": "%H:%M",
    "r": "%I:%M:%S %p", "f": "%f", "%": "%%",
}
# CH %-token → DuckDB strptime token
DUCK_TOKEN = dict(PY_TOKEN)
DUCK_TOKEN["k"] = "%-H"
DUCK_TOKEN["f"] = "%f"
# DuckDB strptime parses %j but then IGNORES it (returns Jan 1) —
# audit run 1 confirmed; Python is the reference for day-of-year
DUCK_TOKEN["j"] = None


def to_ref_fmt(fmt: str, table: dict) -> str | None:
    out = []
    i = 0
    while i < len(fmt):
        if fmt[i] != "%":
            out.append(fmt[i])
            i += 1
            continue
        tok = table.get(fmt[i + 1])
        if tok is None:
            return None
        out.append(tok)
        i += 2
    return "".join(out)


DATE_SHAPES = [
    "%Y-%m-%d", "%d/%m/%Y", "%d %b %Y", "%d %M %Y", "%Y%m%d",
    "%F", "%D", "%y-%m-%d", "%Y/%c/%d", "%j %Y", "%Y %j",
]
TIME_SHAPES = [
    "", " %H:%i:%s", " %T", " %R", " %r", " %k:%i:%s", " %h:%i %p",
    " %H:%i:%s.%f",
]


def main() -> None:
    n_random = int(sys.argv[1]) if len(sys.argv) > 1 else 60
    rng = random.Random(1717)
    spark = get_spark(app_name="parse-audit", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    duck = duckdb.connect()

    cases = []
    for _ in range(n_random):
        dshape = rng.choice(DATE_SHAPES)
        tshape = rng.choice(TIME_SHAPES)
        fmt = dshape + tshape
        dt = datetime(
            rng.randint(1971, 2069), rng.randint(1, 12), rng.randint(1, 28),
            rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59),
            rng.choice([0, 123456, 900001]),
        )
        cases.append((fmt, dt))
    # directed corners: century pivot both sides, Feb-29, day-of-year
    # boundaries, midnight/noon 12-hour edges, single-digit %k hours
    cases += [
        ("%y-%m-%d", datetime(1970, 1, 2)),
        ("%y-%m-%d", datetime(1999, 12, 31)),
        ("%y-%m-%d", datetime(2000, 1, 1)),
        ("%y-%m-%d", datetime(2068, 6, 15)),
        ("%Y-%m-%d", datetime(2024, 2, 29)),
        ("%Y %j", datetime(2024, 12, 31)),   # yday 366
        ("%Y %j", datetime(2023, 1, 1)),     # yday 001
        ("%d %b %Y %h:%i %p", datetime(2001, 7, 4, 0, 5)),   # 12 AM
        ("%d %b %Y %h:%i %p", datetime(2001, 7, 4, 12, 5)),  # 12 PM
        ("%Y-%m-%d %k:%i", datetime(2010, 3, 4, 7, 8)),      # unpadded 7
        ("%Y-%m-%d %k:%i", datetime(2010, 3, 4, 23, 8)),
        ("%F %T.%f", datetime(2015, 6, 7, 8, 9, 10, 123456)),
    ]

    fails, skips = [], []
    for fmt, dt in cases:
        value = render(dt, fmt)
        # expected: components the format determines; others default CH-like
        has_time = any(t in fmt for t in
                       ("%H", "%k", "%h", "%I", "%l", "%T", "%R", "%r"))
        expect = dt if has_time else dt.replace(hour=0, minute=0, second=0)
        if "%s" not in fmt and "%S" not in fmt and "%T" not in fmt \
                and "%r" not in fmt:
            expect = expect.replace(second=0)
        if "%f" not in fmt:
            expect = expect.replace(microsecond=0)

        # --- our engine ---
        ch_sql = (f"SELECT parseDateTime('{value}', '{fmt}') AS t")
        try:
            t_sql = translate(ch_sql)
        except DialectError as e:
            skips.append((fmt, value, f"guided: {e}"))
            continue
        try:
            got = spark.sql(t_sql).collect()[0][0]
        except Exception as e:  # noqa: BLE001
            fails.append((fmt, value, f"SPARK-ERR {type(e).__name__}: "
                          f"{str(e)[:160]}"))
            continue
        if got != expect:
            fails.append((fmt, value, f"spark={got!r} expect={expect!r}"))
            continue

        # --- python strptime twin ---
        pyf = to_ref_fmt(fmt, PY_TOKEN)
        if pyf is not None and not ("%y" in fmt and dt.year == 2069):
            try:
                py = datetime.strptime(value, pyf)
                if not has_time:
                    py = py.replace(hour=0, minute=0, second=0)
                if py != expect and not ("%y" in fmt):
                    fails.append((fmt, value,
                                  f"python={py!r} expect={expect!r}"))
                    continue
            except ValueError:
                pass  # python is stricter on some shapes; spark match stands

        # --- duckdb twin ---
        df = to_ref_fmt(fmt, DUCK_TOKEN)
        if df is not None:
            try:
                dk = duck.execute(
                    "SELECT strptime(?, ?)", [value, df]
                ).fetchone()[0]
                if not has_time:
                    dk = dk.replace(hour=0, minute=0, second=0)
                if dk != expect and not ("%y" in fmt):
                    fails.append((fmt, value,
                                  f"duckdb={dk!r} expect={expect!r}"))
                    continue
            except Exception:  # noqa: BLE001
                pass

    # --- OrNull on garbage ---
    for garbage in ["not a date", "2024-13-45", "", "99/99/9999"]:
        t_sql = translate(
            f"SELECT parseDateTimeOrNull('{garbage}', '%Y-%m-%d') AS t")
        got = spark.sql(t_sql).collect()[0][0]
        if got is not None:
            fails.append(("OrNull", garbage, f"expected NULL got {got!r}"))

    # --- best-effort shapes (CH docs examples) ---
    be = [
        ("2018-12-12 10:12:12", datetime(2018, 12, 12, 10, 12, 12)),
        ("1284101485", datetime(2010, 9, 10, 6, 51, 25)),  # UTC instant
        ("20181212", datetime(2018, 12, 12)),
        ("20181212101212", datetime(2018, 12, 12, 10, 12, 12)),
        ("12/12/2018", datetime(2018, 12, 12)),
        ("10 Dec 2018", datetime(2018, 12, 10)),
        ("Tue, 11 Dec 2018 10:12:12", datetime(2018, 12, 11, 10, 12, 12)),
    ]
    for value, expect in be:
        t_sql = translate(
            f"SELECT parseDateTimeBestEffort('{value}') AS t")
        got = spark.sql(t_sql).collect()[0][0]
        if got != expect:
            fails.append(("besteffort", value,
                          f"spark={got!r} expect={expect!r}"))
    t_sql = translate(
        "SELECT parseDateTimeBestEffortOrNull('garbage!') AS t")
    if spark.sql(t_sql).collect()[0][0] is not None:
        fails.append(("besteffort-ornull", "garbage!", "expected NULL"))

    print(f"\n{len(cases)} random/directed + {len(be)} best-effort cases")
    print(f"SKIPPED (guided errors): {len(skips)}")
    for s in skips[:10]:
        print("  skip:", s)
    if fails:
        print(f"FAILURES: {len(fails)}")
        for f in fails:
            print("  FAIL:", f)
    else:
        print("ALL PASS")
    spark.stop()


if __name__ == "__main__":
    main()
