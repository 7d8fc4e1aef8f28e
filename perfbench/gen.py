"""Seeded input generators for the four benchmark workloads.

Every generator takes the seed as an argument and writes plain files (CSV /
TSV) plus a ``manifest.json`` recording what was planted: sentinel,
out-of-range, spike and duplicate shares, the timezone mix, the duplicate
share of the corpus, the key skew of the lookup mix and the chunk schedule.
The manifest also carries the expected answers the benchmark checks
against, computed here in plain Python, independently of the engine.

An output directory is reused when its manifest names the same workload,
seed and generator version.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""

import datetime as dt
import json
import math
import os
import random
import shutil
import sys
import zoneinfo

GEN_VERSION = 6

UTC = dt.timezone.utc
ZONES = ["America/New_York", "America/Chicago", "America/Denver",
         "America/Los_Angeles", "Europe/Berlin", "Asia/Tokyo"]

# Sizes per workload (see README.md for why each was chosen).
WEATHER = dict(stations=6, days=365, start="2022-01-01")
SERVE = dict(stations=8, days=365, start="2022-01-01", pool=256)
STREAM = dict(stations=4, months=6, start="2022-01-01", zone="America/Chicago",
              interval_s=1.8)
CURATION = dict(corpus=800, batches=3, batch_docs=48, vocab=3000)

# Planted-defect probabilities per hourly row.
P_SENTINEL = 0.010
P_OUT_OF_RANGE = 0.003
P_SPIKE = 0.003
P_DUPLICATE = 0.005


def _tmp_field(tenths):
    return ("+" if tenths >= 0 else "-") + "%04d,1" % abs(tenths)


def _in_range(tenths):
    """The clean stage nulls values outside [-90, 60] °C."""
    return tenths if -900 <= tenths <= 600 else None


def _stations(rng, n, zones):
    out = []
    for k in range(n):
        out.append(dict(
            id="ST%03d" % k, tz=zones[k % len(zones)],
            lat=round(rng.uniform(25, 60), 3), lon=round(rng.uniform(-120, 140), 3),
            base=rng.uniform(4, 18), amp=rng.uniform(6, 13),
            fc_bias=rng.uniform(-3, 3)))
    return out


def _hourly_series(rng, st, start, n_hours, counts):
    """Yield (ts_utc, tmp_field, valid_tenths_or_None, duplicate) per row."""
    zone = zoneinfo.ZoneInfo(st["tz"])
    anomaly, day_key = 0.0, None
    for h in range(n_hours):
        ts = start + dt.timedelta(hours=h)
        local = ts.astimezone(zone)
        if local.date() != day_key:
            day_key = local.date()
            anomaly = 0.7 * anomaly + rng.gauss(0, 2.0)
        doy = local.timetuple().tm_yday
        temp = (st["base"] + st["amp"] * math.sin(2 * math.pi * (doy - 110) / 365.25)
                + 5 * math.sin(2 * math.pi * (local.hour - 9) / 24) + anomaly
                + rng.gauss(0, 0.4))
        tenths = int(round(temp * 10))
        r = rng.random()
        if r < P_SENTINEL:
            field, valid = "+9999,9", None
            counts["sentinel"] += 1
        elif r < P_SENTINEL + P_OUT_OF_RANGE:
            bad = rng.choice([712, 655, -955])
            field, valid = _tmp_field(bad), None
            counts["out_of_range"] += 1
        elif r < P_SENTINEL + P_OUT_OF_RANGE + P_SPIKE:
            tenths += 200
            field, valid = _tmp_field(tenths), _in_range(tenths)
            counts["spike"] += 1
        else:
            field, valid = _tmp_field(tenths), _in_range(tenths)
        dup = rng.random() < P_DUPLICATE
        counts["rows"] += 1
        counts["duplicate"] += dup
        yield ts, local, field, valid, dup


def _write_isd(path, st, rows):
    with open(path, "w") as f:
        f.write("DATE,TMP,LATITUDE,LONGITUDE\n")
        f.write("not-a-date,+0100,%s,%s\n" % (st["lat"], st["lon"]))
        for ts, field in rows:
            line = "%s,%s,%s,%s\n" % (ts.strftime("%Y-%m-%dT%H:%M:%S"), field,
                                      st["lat"], st["lon"])
            f.write(line)


def _daily_expect(acc, st_id, local, valid):
    """Fold one valid hourly value into the per-(station, local day) truth:
    max temp (tenths) and the set of distinct local hours."""
    if valid is None:
        return
    key = (st_id, local.date().isoformat())
    cur = acc.get(key)
    if cur is None:
        acc[key] = [valid, {local.hour}]
    else:
        cur[0] = max(cur[0], valid)
        cur[1].add(local.hour)


def _weather_like(out, rng, stations, start, n_hours, chunk_months=None):
    counts = dict(rows=0, sentinel=0, out_of_range=0, spike=0, duplicate=0)
    truth = {}
    chunks = {}
    for st in stations:
        rows = []
        for ts, local, field, valid, dup in _hourly_series(rng, st, start, n_hours, counts):
            rows.append((ts, field))
            if dup:
                rows.append((ts, field))
            _daily_expect(truth, st["id"], local, valid)
        if chunk_months is None:
            _write_isd(os.path.join(out, "isd_%s.csv" % st["id"]), st, rows)
        else:
            for ts, field in rows:
                chunks.setdefault((ts.year, ts.month), []).append((st, ts, field))
    if chunk_months is not None:
        for i, ym in enumerate(sorted(chunks)[:chunk_months]):
            d = os.path.join(out, "chunk_%02d" % i)
            os.makedirs(d)
            for st in stations:
                _write_isd(os.path.join(d, "isd_%s.csv" % st["id"]), st,
                           [(ts, f) for s, ts, f in chunks[ym] if s is st])
    shares = {k: counts[k] / counts["rows"] for k in
              ("sentinel", "out_of_range", "spike", "duplicate")}
    return counts, shares, truth


def _truth_rows(truth):
    return [[s, d, t / 10.0, len(hours)] for (s, d), (t, hours) in sorted(truth.items())]


def _forecasts(path, rng, stations, truth):
    """Day-ahead forecast rows: truth + station bias + a seasonal error +
    noise; ridge on the seasonal/bias features should beat both passthrough
    and persistence. One lead time, so the per-station lag-1 feature never
    sees the same day's truth."""
    by_id = {s["id"]: s for s in stations}
    with open(path, "w") as f:
        f.write("station_id,issue_time_utc,target_date_local,tmax_pred_f,lead_hours,source\n")
        for (sid, day), (tmax, hours) in sorted(truth.items()):
            date = dt.date.fromisoformat(day)
            doy = date.timetuple().tm_yday
            truth_f = tmax / 10.0 * 9 / 5 + 32
            pred = (truth_f + by_id[sid]["fc_bias"]
                    + 3.0 * math.sin(2 * math.pi * doy / 365.25) + rng.gauss(0, 0.8))
            issue = dt.datetime(date.year, date.month, date.day) - dt.timedelta(hours=24)
            f.write("%s,%s,%s,%.1f,24,openmeteo\n" % (
                sid, issue.strftime("%Y-%m-%dT%H:%M:%S"), day, pred))


def gen_weather(out, seed, size=WEATHER):
    rng = random.Random(seed)
    stations = _stations(rng, size["stations"], ZONES)
    start = dt.datetime.fromisoformat(size["start"]).replace(tzinfo=UTC)
    counts, shares, truth = _weather_like(out, rng, stations, start, size["days"] * 24)
    _forecasts(os.path.join(out, "forecasts.csv"), rng, stations, truth)
    return dict(
        stations=[{k: s[k] for k in ("id", "tz", "lat", "lon")} for s in stations],
        timezone_mix={z: sum(s["tz"] == z for s in stations) for z in
                      sorted({s["tz"] for s in stations})},
        hourly_rows=counts["rows"] + counts["duplicate"], planted=counts,
        planted_shares=shares, daily_truth=_truth_rows(truth))


def _zipf_choice(rng, n, s=1.1):
    weights = [1.0 / (k + 1) ** s for k in range(n)]
    return rng.choices(range(n), weights=weights)[0]


def gen_serve(out, seed):
    meta = gen_weather(out, seed, SERVE)
    rng = random.Random(seed ^ 0x5E12E)
    n_st = SERVE["stations"]
    start = dt.date.fromisoformat(SERVE["start"])
    pool = []
    for _ in range(SERVE["pool"]):
        st = "ST%03d" % _zipf_choice(rng, n_st)
        kind = rng.choices(["daily_range", "hourly_day", "train_metrics"], [4, 4, 2])[0]
        span = {"daily_range": (7, 60), "hourly_day": (1, 1), "train_metrics": (30, 120)}[kind]
        days = rng.randint(*span)
        lo = start + dt.timedelta(days=rng.randint(7, SERVE["days"] - days - 7))
        hi = lo + dt.timedelta(days=days - 1)
        pool.append([kind, st, lo.isoformat(), hi.isoformat()])
    hits = {}
    for _, st, _, _ in pool:
        hits[st] = hits.get(st, 0) + 1
    meta.update(queries=pool, zipf_s=1.1,
                station_query_share={k: v / len(pool) for k, v in sorted(hits.items())})
    return meta


def gen_stream(out, seed):
    rng = random.Random(seed)
    stations = _stations(rng, STREAM["stations"], [STREAM["zone"]])
    start = dt.datetime.fromisoformat(STREAM["start"]).replace(tzinfo=UTC)
    end = start
    for _ in range(STREAM["months"]):
        end = (end + dt.timedelta(days=32)).replace(day=1)
    n_hours = int((end - start).total_seconds() // 3600)
    counts, shares, _ = _weather_like(out, rng, stations, start, n_hours,
                                      chunk_months=STREAM["months"])
    return dict(
        stations=[{k: s[k] for k in ("id", "tz", "lat", "lon")} for s in stations],
        zone=STREAM["zone"], hourly_rows=counts["rows"] + counts["duplicate"],
        planted=counts, planted_shares=shares,
        chunks=STREAM["months"], chunk_interval_s=STREAM["interval_s"])


def _words(rng, vocab, n):
    return [rng.choice(vocab) for _ in range(n)]


def _near(rng, vocab, text):
    words = text.split(" ")
    for _ in range(rng.randint(1, 2)):
        words[rng.randrange(len(words))] = rng.choice(vocab)
    return " ".join(words)


def gen_curation(out, seed, size=CURATION):
    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted({"".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
                    for _ in range(size["vocab"])})
    n = size["corpus"]
    n_unique = int(n * 0.8)
    docs = {i: " ".join(_words(rng, vocab, rng.randint(30, 60))) for i in range(n_unique)}
    exact, near = [], []
    next_id = n_unique
    for k in range(n - n_unique):
        orig = rng.randrange(n_unique)
        if k % 2 == 0:
            docs[next_id] = docs[orig]
            exact.append(next_id)
        else:
            docs[next_id] = _near(rng, vocab, docs[orig])
            near.append(next_id)
        next_id += 1
    with open(os.path.join(out, "corpus.tsv"), "w") as f:
        for i in rng.sample(sorted(docs), len(docs)):
            f.write("%d\t%s\n" % (i, docs[i]))

    batches = []
    admitted_so_far = list(range(n_unique))
    next_id = 10_000_000
    m = size["batch_docs"]
    for b in range(size["batches"]):
        rows, expect = [], {}
        fresh = []
        for _ in range(m // 2):
            fresh.append(next_id)
            rows.append((next_id, " ".join(_words(rng, vocab, rng.randint(30, 60)))))
            expect[next_id] = "admitted"
            next_id += 1
        for _ in range(m // 4):
            rows.append((next_id, docs[rng.choice(admitted_so_far)]))
            expect[next_id] = "corpus_exact"
            next_id += 1
        for _ in range(m // 6):
            rows.append((next_id, _near(rng, vocab, docs[rng.randrange(n_unique)])))
            expect[next_id] = "corpus_near"
            next_id += 1
        for _ in range(m - len(rows)):
            src = rng.choice(fresh)
            rows.append((next_id, dict(rows)[src]))
            expect[next_id] = "batch_dup"
            next_id += 1
        for i, t in rows:
            if expect[i] == "admitted":
                docs[i] = t
        admitted_so_far += fresh
        name = "batch_%02d.tsv" % b
        with open(os.path.join(out, name), "w") as f:
            for i, t in rng.sample(rows, len(rows)):
                f.write("%d\t%s\n" % (i, t))
        batches.append(dict(file=name, expect=[[i, s] for i, s in sorted(expect.items())]))
    return dict(corpus_docs=n, unique_docs=n_unique, exact_copies=exact,
                near_copies=near, exact_share=len(exact) / n, near_share=len(near) / n,
                batches=batches, batch_docs=m,
                batch_mix=dict(fresh=0.5, corpus_exact=0.25, corpus_near=1 / 6,
                               batch_dup=1 - 0.5 - 0.25 - 1 / 6))


GENERATORS = {"weather_batch": gen_weather, "serve_lookups": gen_serve,
              "stream_ingest": gen_stream, "curation_dedup": gen_curation}


def generate(workload, seed, out):
    """Generate (or reuse) the inputs of `workload` for `seed` in `out`."""
    manifest = os.path.join(out, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            m = json.load(f)
        if (m.get("workload"), m.get("seed"), m.get("generator_version")) == (
                workload, seed, GEN_VERSION):
            return m
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    m = GENERATORS[workload](out, seed)
    m.update(workload=workload, seed=seed, generator_version=GEN_VERSION)
    tmp = manifest + ".tmp"
    with open(tmp, "w") as f:
        json.dump(m, f)
    os.replace(tmp, manifest)
    return m


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit("usage: gen.py {%s} <seed> <out_dir>" % ",".join(GENERATORS))
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
