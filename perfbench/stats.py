"""Statistics and output checks of the benchmark, free of any Spark or
DuckDB dependency so they can be tested on their own."""
import datetime
import decimal
import hashlib
import json
import math


def median(xs):
    """Median of a non-empty sequence (mean of the middle pair when even)."""
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


def tail(xs, beyond=10):
    """The highest percentile that has at least `beyond` samples above it.

    Returns (value, percentile, n). When that percentile would not even
    reach the median (fewer than 2 * beyond + 1 samples), the sample
    supports no tail and the maximum is returned as the 100th percentile.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= 2 * beyond:
        return s[-1], 100.0, n
    k = n - beyond - 1  # s[k] has exactly `beyond` samples after it
    return s[k], 100.0 * (k + 1) / n, n


def error_rate(attempted, failed):
    """Failed or wrong operations as a share of those attempted."""
    if attempted <= 0:
        raise ValueError("no operations attempted")
    if failed < 0 or failed > attempted:
        raise ValueError("failed count outside [0, attempted]")
    return failed / attempted


def count_failures(outcomes):
    """(attempted, failed) over per-operation outcomes: True is a pass,
    anything else (False, None, an error string) a failure."""
    outcomes = list(outcomes)
    return len(outcomes), sum(1 for o in outcomes if o is not True)


def canon(v):
    """One canonical string per value, equal across Spark's parquet output
    and DuckDB's query results for the same logical value."""
    if v is None:
        return "null"
    if isinstance(v, str):
        return json.dumps(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        if math.isinf(f):
            return "inf" if f > 0 else "-inf"
        if f == int(f) and abs(f) < 2 ** 53:
            return str(int(f))
        return format(f, ".10g")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "0x" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(canon(k) + ":" + canon(x) for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def fingerprint(columns, rows):
    """Order-insensitive fingerprint of a result: its sorted column names,
    its row count, and the sum mod 2**64 of a 64-bit hash of each row's
    canonical form (a sum, not a xor, so repeated rows still count)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        line = "\x1f".join(canon(r[i]) for i in order)
        total = (total + int.from_bytes(hashlib.blake2b(line.encode(), digest_size=8).digest(), "little")) % (1 << 64)
        n += 1
    return {"columns": [columns[i] for i in order], "rows": n, "hash": format(total, "016x")}

