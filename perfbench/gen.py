"""Seeded generator of reference-shaped travel inputs (FIXTURES.md section B).

Writes the CSV and JSON files the Bronze layer ingests, plus the
generator's own ground truth (``truth.json``). The program under test
receives only the files; the checks in ``run.py`` compare its outputs with
the truth recorded here and with a DuckDB replay over the same files.

The same seed always gives byte-identical files. Sizes are fixed per
workload, so different seeds change values, not the amount of work.

Edge cases planted on purpose:
- ``$1,234.56`` amounts, ``NULL``/``null``/empty spellings, garbage amounts;
- unparseable transaction dates (dropped by the TRY-date path);
- a re-upload file of some days' manual logs, flights and sleep records
  with changed values, landed after the main files (its higher ``load_id``
  must win in Gold);
- heart rate as short bursts of 1 Hz readings, with empty and
  unparseable values, so each Silver minute aggregates many readings;
- hour gaps in steps (filled with 0 by the Silver scaffold);
- days with flights but no next-day sleep record, and the reverse;
- Timeline variants: bare-string ``placeLocation``,
  ``startLocation``/``endLocation``, probability only under
  ``topCandidate``, and segments with neither visit nor activity;
- stream waves with exact duplicates of earlier documents.
"""

import datetime as dt
import json
import os
import random

START = dt.date(2025, 1, 1)

# Sizes per workload. Different seeds change values, never these.
SIZES = {
    # about a year of data, one file per dataset; heart rate comes in a few
    # bursts of 1 Hz readings a day, so Silver's minute groups hold many
    # rows. `warmup_days` of other data go through the same pipeline in
    # set-up, into a warehouse of their own.
    "medallion": {"days": 365, "hr_bursts": 3, "hr_burst_s": (60, 80),
                  "hr_hours": (6, 23), "tx_per_day": 6, "seg_per_day": 8,
                  "steps_per_hour": 3, "warmup_days": 3},
    # waves of small documents for the streaming dedup maintainer
    # the first `warmup_passes` passes are shorter and run untimed
    "stream": {"passes": 8, "waves_per_pass": 3, "docs_per_wave": 8,
               "dups_per_wave": 2, "words_per_doc": 14,
               "warmup_passes": 2, "warmup_waves": 1},
}

TX_TYPES = ["Hotel", "Food", "Activity", "Travel", "Misc",
            " hotel ", "FOOD", "food", "Souvenir"]
COUNTRIES = [("Japan", ["Tokyo", "Kyoto", "Osaka"]),
             ("Vietnam", ["Hanoi", "Hue", "Saigon"]),
             ("Peru", ["Lima", "Cusco", "Arequipa"]),
             ("Kenya", ["Nairobi", "Mombasa"])]
AIRPORTS = ["HND", "KIX", "HAN", "SGN", "LIM", "CUZ", "NBO", "MBA", "LHR"]
MODES = ["WALKING", "IN_PASSENGER_VEHICLE", "DRIVING", "IN_TRAIN",
         "IN_SUBWAY", "IN_BUS", "CYCLING", "FLYING"]
NULLS = ["NULL", "null", ""]

TX_HEADER = ["country", "date", "name", "type", "amount", "comments"]
ML_HEADER = ["day", "date", "flag", "country", "city", "description",
             "comments", "food", "travel", "hotel"]
FL_HEADER = ["date", "flight_number", "from", "to", "dep_time", "arr_time",
             "duration", "airline", "aircraft", "registration",
             "seat_number", "seat_type", "flight_class", "flight_reason",
             "note", "dep_id", "arr_id", "airline_id", "aircraft_id"]
HR_HEADER = ["timestamp", "beats_per_minute", "data_source"]
ST_HEADER = ["timestamp", "steps", "data_source"]
SL_HEADER = ["sleep_log_entry_id", "timestamp", "overall_score",
             "composition_score", "revitalization_score", "duration_score",
             "deep_sleep_in_minutes", "resting_heart_rate", "restlessness"]

# dataset -> (file prefix, extension, header)
DATASETS = {
    "transactions": ("transactions", "csv", TX_HEADER),
    "manual_logs": ("manual_logs", "csv", ML_HEADER),
    "flight_logs": ("flight_logs", "csv", FL_HEADER),
    "fitbit_heart_rate": ("fitbit_heart_rate", "csv", HR_HEADER),
    "fitbit_steps": ("fitbit_steps", "csv", ST_HEADER),
    "fitbit_sleep_score": ("fitbit_sleep_score", "csv", SL_HEADER),
    "google_timeline": ("google_timeline", "json", None),
}


def _csv_field(v):
    s = "" if v is None else str(v)
    if any(c in s for c in ',"\n'):
        return '"' + s.replace('"', '""') + '"'
    return s


def _write_csv(path, header, rows):
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join(_csv_field(v) for v in r) + "\n")


def _null(rng):
    return rng.choice(NULLS)


def _is_null(s):
    return s is None or s == "" or s.upper() == "NULL"


def _parse_amount(s):
    if _is_null(s):
        return None
    try:
        return float(s.replace("$", "").replace(",", ""))
    except ValueError:
        return None


def _parse_date(s):
    if _is_null(s):
        return None
    try:
        return dt.date.fromisoformat(s)
    except ValueError:
        return None


class _Day:
    """All rows of one calendar day, before they are split into files."""

    def __init__(self, rng, idx, sizes, ids, full=False):
        """`full`: the day has at least one flight and a sleep record."""
        self.date = START + dt.timedelta(days=idx)
        d = self.date.isoformat()
        country, cities = COUNTRIES[(idx // 30) % len(COUNTRIES)]
        self.tx = []
        for k in range(sizes["tx_per_day"]):
            date = d
            if rng.random() < 0.03:
                date = rng.choice(["TBD", "31/12/2025", "2025-02-30"])
            ttype = rng.choice(TX_TYPES)
            if rng.random() < 0.05:
                ttype = _null(rng)
            cents = rng.randint(100, 250000)
            amount = f"{cents / 100:.2f}"
            roll = rng.random()
            if roll < 0.15:
                amount = f"${cents / 100:,.2f}"
            elif roll < 0.18:
                amount = _null(rng)
            elif roll < 0.19:
                amount = "abc"
            comment = rng.choice([f"note {rng.randint(0, 999)}", None,
                                  "NULL", "null", "paid cash",
                                  "shared, split"])
            self.tx.append([country, date, f"vendor {rng.randint(1, 400)}",
                            ttype, amount, comment])
        self.manual = [idx + 1, d, round(rng.random(), 3), country,
                       rng.choice(cities), f"day {idx + 1} in {country}",
                       rng.choice(["NULL", "null", "", "rain", "sunny"]),
                       rng.choice(["ramen", "pho", "ceviche", "nyama"]),
                       rng.choice(["train", "bus", "walk", "flight"]),
                       rng.choice(["hostel", "hotel", "ryokan"])]
        self.flights = []
        n_fl = 1 if rng.random() < 0.25 else 0
        if rng.random() < 0.05:
            n_fl = 2
        if full:
            n_fl = max(n_fl, 1)
        for _ in range(n_fl):
            a, b = rng.sample(AIRPORTS, 2)
            h, m = rng.randint(0, 13), rng.randint(0, 59)
            ids["flight"] += 1
            self.flights.append([
                d, f"XX{ids['flight']:04d}", a, b, "08:00", "12:00",
                f"{h:02d}:{m:02d}", "Airline", "A320", "JA01",
                f"{rng.randint(1, 40)}A", "window", "economy", "leisure",
                _null(rng), a, b, "1", "2"])
        # wake-up on this date; about one day in eight has no record
        self.sleep = None
        if rng.random() < 0.88 or full:
            ids["sleep"] += 1
            self.sleep = [ids["sleep"], f"{d} 0{rng.randint(5, 8)}:"
                          f"{rng.randint(10, 59)}:00",
                          rng.randint(50, 95), round(rng.uniform(10, 25), 2),
                          rng.randint(10, 25), round(rng.uniform(20, 50), 2),
                          rng.randint(30, 120), rng.randint(45, 70),
                          round(rng.random(), 4)]
        h0, h1 = sizes["hr_hours"]
        self.hr = []
        for hour in sorted(rng.sample(range(h0, h1), sizes["hr_bursts"])):
            n = rng.randint(*sizes["hr_burst_s"])
            t0 = hour * 3600 + rng.randint(0, 3599 - n)
            for t in range(t0, t0 + n):
                ts = f"{d} {t // 3600:02d}:{t // 60 % 60:02d}:{t % 60:02d}"
                bpm = str(rng.randint(48, 150))
                r = rng.random()
                if r < 0.002:
                    bpm = ""
                elif r < 0.003:
                    ts = "bad-ts"
                self.hr.append([ts, bpm, "fitbit"])
        self.steps = []
        gaps = set(rng.sample(range(h0, h1), 2))
        for hr in range(h0, h1):
            if hr in gaps:
                continue
            for mi in sorted(rng.sample(range(60), sizes["steps_per_hour"])):
                self.steps.append([f"{d} {hr:02d}:{mi:02d}:00",
                                   rng.randint(0, 180), "fitbit"])
        self.segments = []
        t = 7 * 3600
        for k in range(sizes["seg_per_day"]):
            dur = rng.randint(600, 5400)
            self.segments.append(_segment(rng, d, t, t + dur, k))
            t += dur
        if rng.random() < 0.3:
            self.segments.append({  # neither visit nor activity: dropped
                "startTime": f"{d}T23:00:00", "endTime": f"{d}T23:30:00",
                "timelinePath": [{"point": "1.0°, 2.0°"}]})


def _ts(d, secs):
    secs = min(secs, 86399)
    return f"{d}T{secs // 3600:02d}:{secs // 60 % 60:02d}:{secs % 60:02d}"


def _latlng(rng):
    return f"{rng.uniform(-40, 60):.4f}°, {rng.uniform(-80, 150):.4f}°"


def _segment(rng, d, t0, t1, k):
    seg = {"startTime": _ts(d, t0), "endTime": _ts(d, t1)}
    if k % 2 == 0:
        place = ({"latLng": _latlng(rng)} if rng.random() < 0.8
                 else _latlng(rng))  # bare-string variant
        seg["visit"] = {"probability": round(rng.random(), 3),
                        "topCandidate": {"placeId": f"P{rng.randint(1, 500)}",
                                         "placeLocation": place}}
    else:
        mode = rng.choice(MODES)
        prob = round(rng.random(), 3)
        act = {"distanceMeters": round(rng.uniform(100, 30000), 1),
               "topCandidate": {"type": mode, "probability": prob}}
        if rng.random() < 0.7:
            act["probability"] = prob  # else: topCandidate fallback
        if rng.random() < 0.7:
            act["start"] = {"latLng": _latlng(rng)}
            act["end"] = {"latLng": _latlng(rng)}
        else:
            act["startLocation"] = {"latLng": _latlng(rng)}
            act["endLocation"] = {"latLng": _latlng(rng)}
        seg["activity"] = act
    return seg


def _file_rows(days):
    """Rows of one file per dataset covering `days`."""
    rows = {k: [] for k in DATASETS}
    for day in days:
        rows["transactions"] += day.tx
        rows["manual_logs"].append(day.manual)
        rows["flight_logs"] += day.flights
        if day.sleep:
            rows["fitbit_sleep_score"].append(day.sleep)
        rows["fitbit_heart_rate"] += day.hr
        rows["fitbit_steps"] += day.steps
    segs = [s for day in days for s in day.segments]
    rows["google_timeline"] = [{"semanticSegments": segs}]
    return rows


def _fix_rows(days):
    """A re-upload of some days' itinerary, flights and sleep with changed
    values. It lands after the main files, so its higher load_id must win
    in the Gold dedup steps."""
    return {
        "manual_logs": [d.manual[:5] + [d.manual[5] + " (edited)"] + d.manual[6:]
                        for d in days],
        "flight_logs": [f[:3] + ["LHR"] + f[4:] for d in days for f in d.flights],
        "fitbit_sleep_score": [d.sleep[:2] + [min(d.sleep[2] + 9, 99)] + d.sleep[3:]
                               for d in days if d.sleep],
    }


def _silver_count(ds, rows):
    """Rows the Silver processor writes for one Bronze batch."""
    if ds == "fitbit_heart_rate":
        return len({r[0][:16] for r in rows if r[0] != "bad-ts"})
    if ds == "fitbit_steps":
        return 24 * len({r[0][:10] for r in rows})
    if ds == "google_timeline":
        return sum(1 for s in rows[0]["semanticSegments"]
                   if "visit" in s or "activity" in s)
    return len(rows)


def _write_set(landing, tag, rows):
    """Write one file per dataset in `rows`; returns per-file truth."""
    out = {}
    for ds in (k for k in rows if rows[k]):
        prefix, ext, header = DATASETS[ds]
        d = os.path.join(landing, ds)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{prefix}_{tag}.{ext}")
        if ext == "csv":
            _write_csv(path, header, rows[ds])
            bronze = len(rows[ds])
        else:
            with open(path, "w", encoding="utf-8") as f:
                json.dump(rows[ds][0], f, ensure_ascii=False)
            bronze = 1
        out[os.path.basename(path)] = {"dataset": ds, "bronze": bronze,
                                       "silver": _silver_count(ds, rows[ds])}
    return out


def _range_truth(days):
    """Per-date facts the dashboard checks sum over a date range."""
    per = {}
    for day in days:
        d = day.date.isoformat()
        per.setdefault(d, {"spend": 0.0, "tx": 0, "flights": 0, "sleep": 0,
                           "visits": 0, "moves": 0, "steps": 0, "logs": 0,
                           "segments": 0, "day": 0})
        per[d]["logs"] += 1
        per[d]["day"] = 1
        per[d]["flights"] += len(day.flights)
        per[d]["sleep"] += 1 if day.sleep else 0
        per[d]["steps"] += sum(r[1] for r in day.steps)
        for s in day.segments:
            if "visit" in s or "activity" in s:
                per[d]["segments"] += 1
            if "visit" in s:
                per[d]["visits"] += 1
            elif "activity" in s and s["activity"]["topCandidate"]["type"] != "FLYING":
                per[d]["moves"] += 1
        for r in day.tx:
            td = _parse_date(r[1])
            if td is None:
                continue
            e = per[td.isoformat()]
            e["tx"] += 1
            a = _parse_amount(r[4])
            if a is not None:
                e["spend"] += a
    return per


def _segment_types(days):
    out = {"VISIT": 0, "ACTIVITY": 0, "dropped": 0}
    for day in days:
        for s in day.segments:
            key = ("VISIT" if "visit" in s else
                   "ACTIVITY" if "activity" in s else "dropped")
            out[key] += 1
    return out


def _doc_text(rng, n):
    return " ".join(f"w{rng.randint(0, 1_000_000)}" for _ in range(n))


def generate_stream(root, rng, sizes):
    """Passes of waves of documents. A pass starts from an empty index, so
    each wave plants exact copies of originals from earlier waves, or
    earlier in the same wave, of the same pass, under new, larger ids."""
    passes = []
    next_id = 0
    for p in range(sizes["passes"]):
        pdir = os.path.join(root, "waves", f"pass_{p:04d}")
        os.makedirs(pdir, exist_ok=True)
        originals, dups, waves = [], {}, []
        n_waves = (sizes["warmup_waves"] if p < sizes["warmup_passes"]
                   else sizes["waves_per_pass"])
        for w in range(n_waves):
            docs = []
            for _ in range(sizes["docs_per_wave"] - sizes["dups_per_wave"]):
                docs.append((next_id, _doc_text(rng, sizes["words_per_doc"])))
                originals.append(docs[-1])
                next_id += 1
            # each copy is of an original not copied before, so its best
            # match is unique
            for src_id, text in rng.sample(originals, sizes["dups_per_wave"]):
                docs.append((next_id, text))
                dups[next_id] = src_id
                next_id += 1
            copied = set(dups.values())
            originals = [o for o in originals if o[0] not in copied]
            with open(os.path.join(pdir, f"wave_{w:04d}.json"), "w",
                      encoding="utf-8") as f:
                for i, t in docs:
                    f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
            waves.append([i for i, _ in docs])
        passes.append({"pass": f"pass_{p:04d}", "waves": waves,
                       "duplicates": {str(k): v for k, v in dups.items()}})
    return {"passes": passes}


def _medallion(root, rng, n_days, sizes):
    """Landing files of `n_days` under `root`/landing, plus their truth.
    The first day of a short set is full, so every dataset has rows."""
    ids = {"flight": 0, "sleep": 0}
    days = [_Day(rng, i, sizes, ids, full=(i == 0 and n_days < 30))
            for i in range(n_days)]
    fixed = [d for d in days if rng.random() < 0.05] or days[-1:]
    landing = os.path.join(root, "landing")
    files = _write_set(landing, "2025", _file_rows(days))
    files.update(_write_set(landing, "2025_fix", _fix_rows(fixed)))
    per_date = _range_truth(days)
    for d in fixed:  # Silver keeps both loads of a re-uploaded day
        e = per_date[d.date.isoformat()]
        e["logs"] += 1
        e["flights"] += len(d.flights)
        e["sleep"] += 1 if d.sleep else 0
    return {"files": files, "per_date": per_date,
            "segment_types": _segment_types(days)}


def generate(root, workload, seed):
    """Generate the inputs of `workload` under `root`; returns the truth."""
    rng = random.Random(f"{workload}:{seed}")
    os.makedirs(root, exist_ok=True)
    if workload == "medallion":
        sizes = SIZES["medallion"]
        truth = _medallion(root, rng, sizes["days"], sizes)
        warm = _medallion(os.path.join(root, "warmup"),
                          random.Random(f"{workload}:{seed}:warmup"),
                          sizes["warmup_days"], sizes)
        truth["warmup_files"] = warm["files"]
    elif workload == "stream_dedup":
        truth = generate_stream(root, rng, SIZES["stream"])
    else:
        raise ValueError(f"unknown workload {workload}")
    truth["workload"] = workload
    truth["seed"] = seed
    with open(os.path.join(root, "truth.json"), "w", encoding="utf-8") as f:
        json.dump(truth, f, sort_keys=True)
    return truth
