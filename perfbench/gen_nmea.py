"""Seeded NMEA-0183 log generator for the marine workloads.

A log is a season of race days for one boat. Each day holds a few races
sailed at 1 Hz; races are separated by more than the 30-minute race gap
that `Races.split` uses, and days by the night. Every tick emits RMC, VHW,
MWV(R), DPT, HDG and GGA. The seed also picks the boat: its speed, wind,
position and tacking rhythm; the sentence mix stays the same, so every
seed gives the same amount of parse work. A
fixed share of lines is planted malformed (truncated, lower-case address,
missing `$`) and a fixed share carries a wrong checksum.

`generate` returns the log text and the counts the pipeline must
reproduce exactly: lines, valid sentences, rejected lines, ticks (one per
valid RMC) and races (runs of valid ticks split at gaps over 1800 s).
"""
import datetime

import numpy as np

RACE_GAP_S = 1800
MALFORMED_SHARE = 0.004
BAD_CHECKSUM_SHARE = 0.004
EPOCH_DAY0 = datetime.date(2022, 10, 12)


def _checksums(bodies):
    """XOR of the ASCII bytes of each body, vectorized over all bodies."""
    buf = np.frombuffer("".join(bodies).encode("ascii"), dtype=np.uint8)
    lens = np.fromiter((len(b) for b in bodies), dtype=np.int64, count=len(bodies))
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    return np.bitwise_xor.reduceat(buf, starts)


def _schedule(rng, n_ticks):
    """Epoch seconds of n_ticks 1 Hz ticks split into days and races."""
    epochs = np.empty(n_ticks, dtype=np.int64)
    day = int(rng.integers(0, 20))
    pos = 0
    while pos < n_ticks:
        day_start = (EPOCH_DAY0 + datetime.timedelta(days=day) - datetime.date(1970, 1, 1)).days * 86400
        t = day_start + 9 * 3600 + int(rng.integers(0, 3600))
        for _ in range(int(rng.integers(2, 5))):
            if pos >= n_ticks:
                break
            length = min(int(rng.integers(1500, 4500)), n_ticks - pos)
            epochs[pos:pos + length] = t + np.arange(length)
            pos += length
            t += length + RACE_GAP_S + int(rng.integers(300, 2400))
        day += int(rng.integers(1, 4))
    return epochs


def _bodies(rng, epochs):
    """Sentence bodies (without `$` and checksum), tick-major order.

    Returns (bodies, is_rmc flag per body)."""
    n = len(epochs)
    base_sog = 5.0 + 2.5 * rng.random()
    tws = 8.0 + 10.0 * rng.random()
    lat0, lon0 = 4730.0 + 20 * rng.random(), 12220.0 + 20 * rng.random()
    k = np.arange(n)
    tack = (k // int(rng.integers(120, 400))) % 2
    awa = np.where(tack == 0, 35.0 + 10 * rng.random(n), 325.0 - 10 * rng.random(n))
    sog = base_sog + 0.8 * np.sin(k / 97.0) + 0.2 * rng.random(n)
    aws = tws + 4.0 + rng.random(n)
    hdg = (200.0 + np.where(tack == 0, 40.0, -40.0) + 3 * rng.random(n)) % 360.0
    lat = lat0 + (k % 5000) * 0.0011
    lon = lon0 + (k % 4000) * 0.0009
    depth = 8.0 + 12.0 * (0.5 + 0.5 * np.sin(k / 513.0))
    bodies, rmc = [], []
    for i in range(n):
        ts = datetime.datetime.fromtimestamp(int(epochs[i]), tz=datetime.timezone.utc)
        hms = ts.strftime("%H%M%S") + ".00"
        dmy = ts.strftime("%d%m%y")
        bodies.append(f"GPRMC,{hms},A,{lat[i]:.4f},N,{lon[i]:.4f},W,{sog[i]:.1f},{hdg[i]:.1f},{dmy},,,A")
        bodies.append(f"IIVHW,{hdg[i]:.1f},T,{hdg[i] - 15.3:.1f},M,{sog[i] - 0.3:.1f},N,{(sog[i] - 0.3) * 1.852:.1f},K")
        bodies.append(f"IIMWV,{awa[i]:.1f},R,{aws[i]:.1f},N,A")
        bodies.append(f"IIDPT,{depth[i]:.1f},0.0")
        bodies.append(f"HCHDG,{(hdg[i] - 15.3) % 360:.1f},,,15.3,E")
        bodies.append(f"GPGGA,{hms},{lat[i]:.4f},N,{lon[i]:.4f},W,1,08,1.0,4.2,M,,,,")
        rmc.extend((True, False, False, False, False, False))
    return bodies, np.array(rmc)


def _malform(rng, line):
    kind = int(rng.integers(0, 3))
    if kind == 0:
        return line[: max(4, line.index("*") - 3)]   # truncated, no checksum
    if kind == 1:
        return "$" + line[1:3].lower() + line[3:]      # lower-case talker
    return line[1:]                                    # missing '$'


def generate(seed, n_lines):
    """One boat's log of about n_lines lines. Returns (text, expected)."""
    rng = np.random.default_rng(seed)
    epochs = _schedule(rng, max(1, n_lines // 6))
    bodies, is_rmc = _bodies(rng, epochs)
    sums = _checksums(bodies)
    n = len(bodies)
    pick = rng.permutation(n)
    n_bad_form = int(round(n * MALFORMED_SHARE))
    n_bad_sum = int(round(n * BAD_CHECKSUM_SHARE))
    bad_form = np.zeros(n, dtype=bool)
    bad_form[pick[:n_bad_form]] = True
    bad_sum = np.zeros(n, dtype=bool)
    bad_sum[pick[n_bad_form:n_bad_form + n_bad_sum]] = True
    flip = rng.integers(1, 256, size=n)
    lines = []
    for i, b in enumerate(bodies):
        c = int(sums[i]) ^ int(flip[i]) if bad_sum[i] else int(sums[i])
        line = f"${b}*{c:02X}"
        lines.append(_malform(rng, line) if bad_form[i] else line)
    valid = ~(bad_form | bad_sum)
    valid_tick_epochs = epochs[valid[is_rmc]]
    races = int(1 + np.count_nonzero(np.diff(valid_tick_epochs) > RACE_GAP_S)) if len(valid_tick_epochs) else 0
    expected = {
        "lines": n,
        "valid": int(np.count_nonzero(valid)),
        "rejected": int(n_bad_form + n_bad_sum),
        "ticks": int(len(valid_tick_epochs)),
        "races": races,
    }
    return "\n".join(lines) + "\n", expected


def write_log(path, seed, n_lines):
    text, expected = generate(seed, n_lines)
    with open(path, "w") as f:
        f.write(text)
    return expected

