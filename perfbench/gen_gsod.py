"""GSOD year archives and station history, generated from a seed.

Writes, under <out_dir>:
  archives/<year>.tar   one ustar archive per year; one member per station,
                        `<usaf>-<wban>-<year>.op.gz` (every other station's
                        member is stored uncompressed as `.op`)
  isd-history.csv       the station dimension (isd-history shape)
  years.txt             "<first year> <last year>", the ETL coverage window
  expected.json         the ETL's answer, computed here without Spark: one
                        row per (usaf, wban, year, month) of an active
                        station, with the monthly medians and station columns

The daily records carry what the parser must clean: '*' flags on MAX/MIN,
A-I report flags on PRCP, the 9999.9 / 999.9 / 99.99 sentinels, and a few
impossible dates. The dimension carries a missing LAT, a 0.0 LAT sentinel,
a -999 elevation, stations outside the coverage window, and stations with
no archive members.

Usage: python3 perfbench/gen_gsod.py <out_dir> <seed> <years> <stations>
"""
import csv
import gzip
import io
import json
import os
import sys
import tarfile
import warnings

import numpy as np

HEADER = ("STN--- WBAN   YEARMODA    TEMP       DEWP      SLP        STP       VISIB"
          "      WDSP     MXSPD   GUST    MAX     MIN   PRCP   SNDP   FRSHTT")


def _stations(rng, n, first, last):
    ids = rng.choice(900000, n, replace=False) + 100000
    rows = []
    for i, usaf in enumerate(ids):
        kind = i % 20
        lat = round(float(rng.uniform(-60, 70)), 3)
        lon = round(float(rng.uniform(-170, 170)), 3)
        elev = round(float(rng.integers(1, 30000)) / 10.0, 1)
        begin, end = (first - int(rng.integers(0, 30))) * 10000 + 101, last * 10000 + 1231
        state = "" if kind == 3 else f"S{int(rng.integers(0, 50)):02d}"
        if kind == 5:
            lat = None
        elif kind == 7:
            lat = 0.0
        elif kind == 9:
            elev = -999.0
        elif kind == 11:
            end = (last - 1) * 10000 + 1231
        elif kind == 13:
            begin = (first + 1) * 10000 + 101
        rows.append({"usaf": f"{usaf:06d}", "wban": int(10000 + i), "name": f"STATION {i}",
                     "ctry": f"C{int(rng.integers(0, 30)):02d}", "state": state,
                     "icao": f"K{i:03d}", "lat": lat, "lon": lon, "elev": elev,
                     "begin": begin, "end": end, "has_data": kind != 17})
    return rows


def _day_lines(rng, st, year):
    """The station-year's records as text, plus the values the ETL should
    see: an (n, 6) array with NaN where a sentinel applies, and each
    record's month (0 for an impossible date)."""
    dates = np.arange(np.datetime64(f"{year}-01-01"), np.datetime64(f"{year + 1}-01-01"))
    dates = dates[rng.random(len(dates)) >= 0.03]
    n = len(dates)
    months = dates.astype("datetime64[M]").astype(int) % 12 + 1
    days = (dates - dates.astype("datetime64[M]")).astype(int) + 1
    bad = rng.random(n) < 0.002
    temp = np.round(rng.uniform(20, 80) + rng.normal(0, 12, n), 1)
    meas = np.stack([
        temp,
        np.round(temp - rng.uniform(0, 15, n), 1),
        np.round(rng.uniform(0, 20, n), 1),
        np.round(temp + rng.uniform(0, 15, n), 1),
        np.round(temp - rng.uniform(0, 15, n), 1),
        np.round(np.minimum(rng.exponential(0.15, n), 9.0), 2)], axis=1)
    sent = rng.random((n, 6)) < 0.02
    flags = [np.where(rng.random(n) < 0.1, "*", ""), np.where(rng.random(n) < 0.1, "*", ""),
             np.where(rng.random(n) < 0.3, np.array(list("ABCDEFGHI"))[rng.integers(0, 9, n)], "")]
    sentinel = ["9999.9", "9999.9", "999.9", "9999.9", "9999.9", "99.99"]
    tok = []
    for k in range(6):
        t = np.char.mod("%.2f" if k == 5 else "%.1f", meas[:, k])
        if k >= 3:
            t = np.char.add(t, flags[k - 3])
        tok.append(np.where(sent[:, k], sentinel[k], t))
    ymd = np.char.mod("%02d", np.where(bad, 13, months))
    ymd = np.char.add(np.char.add(str(year), ymd), np.char.mod("%02d", days))
    head = f"{st['usaf']} {st['wban']}  "
    body = [head + f"{d} {a:>7} 24 {b:>7} 24  1013.2 24  1012.1 24    9.9 24 {c:>6} 24"
            f"    9.9  999.9 {e:>7} {f:>7} {g:>6}  999.9  000000"
            for d, a, b, c, e, f, g in zip(ymd.tolist(), *(t.tolist() for t in tok))]
    vals = np.where(sent, np.nan, meas)
    return "\n".join([HEADER] + body) + "\n", vals, np.where(bad, 0, months)


def _medians(vals):
    """Per-column median of the non-NaN values (None when there are none)."""
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        med = np.nanmedian(vals, axis=0)
    return [None if np.isnan(m) else float(m) for m in med]


def _add(tar, name, payload):
    info = tarfile.TarInfo(name)
    info.size = len(payload)
    info.mtime = 0
    tar.addfile(info, io.BytesIO(payload))


def generate(out, seed, n_years, n_stations):
    rng = np.random.default_rng(seed)
    first = 1990 + int(rng.integers(0, 25))
    last = first + n_years - 1
    stations = _stations(rng, n_stations, first, last)
    os.makedirs(os.path.join(out, "archives"), exist_ok=True)
    groups = {}
    for year in range(first, last + 1):
        with tarfile.open(os.path.join(out, "archives", f"{year}.tar"), "w",
                          format=tarfile.USTAR_FORMAT) as tar:
            for i, st in enumerate(stations):
                if not st["has_data"]:
                    continue
                text, vals, months = _day_lines(rng, st, year)
                stem = f"{st['usaf']}-{st['wban']}-{year}.op"
                data = text.encode()
                if i % 2 == 0:
                    _add(tar, stem + ".gz", gzip.compress(data, compresslevel=1, mtime=0))
                else:
                    _add(tar, stem, data)
                for m in np.unique(months).tolist():
                    ym = (None, None) if m == 0 else (year, m)
                    groups.setdefault((st["usaf"], st["wban"]) + ym, []).append(vals[months == m])
            _add(tar, "README.txt", b"not a station file; the parser skips it\n")
    with open(os.path.join(out, "isd-history.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["USAF", "WBAN", "STATION NAME", "CTRY", "STATE", "ICAO", "LAT", "LON",
                    "ELEV(M)", "BEGIN", "END"])
        for st in stations:
            w.writerow([st["usaf"], st["wban"], st["name"], st["ctry"], st["state"], st["icao"],
                        "" if st["lat"] is None else st["lat"], st["lon"], st["elev"],
                        st["begin"], st["end"]])
    with open(os.path.join(out, "years.txt"), "w") as f:
        f.write(f"{first} {last}\n")

    active = {}
    for st in stations:
        lat = None if st["lat"] in (None, 0.0, -999.0, -999.9) else st["lat"]
        lon = None if st["lon"] in (0.0, -999.0, -999.9) else st["lon"]
        elev = None if st["elev"] in (0.0, -999.0, -999.9) else st["elev"]
        if lat is None or lon is None:
            continue
        if st["end"] // 10000 != last or st["begin"] // 10000 > first:
            continue
        head = ", ".join(x for x in (st["name"], st["state"] or None, st["ctry"]) if x)
        lbl = head if elev is None else f"{head}<br>Elevation: {elev!r} m"
        active[(st["usaf"], st["wban"])] = {"ctry": st["ctry"], "lat": lat, "lon": lon,
                                            "elev_m": elev, "lbl": lbl}
    names = ["temp", "dewp", "wdsp", "max", "min", "prcp"]
    rows = []
    for (usaf, wban, year, month), vals in sorted(groups.items(), key=lambda kv: str(kv[0])):
        if (usaf, wban) not in active:
            continue
        row = {"usaf": usaf, "wban": wban, "year": year, "month": month}
        row.update(zip(names, _medians(np.concatenate(vals))))
        row.update(active[(usaf, wban)])
        rows.append(row)
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(rows, f)
    return rows


if __name__ == "__main__":
    if len(sys.argv) != 5:
        sys.exit(__doc__)
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]))
