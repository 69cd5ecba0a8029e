"""DuckDB replay of the three Gold reports over the generated landing files.

The replay reads the same CSV and JSON files the program ingested and
re-derives Silver and Gold with the semantics of the reference SQL, written
independently of the Spark code. ``compare`` checks the program's Gold
parquet output against it row by row.
"""

import math
import os

import duckdb

# CSV columns land as text; NULL/null/empty spellings become NULL
# (file_format_csv.sql NULL_IF), as in Bronze.
_NULLIF = "CASE WHEN {c} IS NULL OR {c} = '' OR upper({c}) = 'NULL' THEN NULL ELSE {c} END"


def _csv(con, name, path):
    """View `name` over every file matching `path`; `load_rank` orders the
    files as ingestion assigns load ids (sorted path order)."""
    con.execute(f"CREATE VIEW raw_{name} AS SELECT * FROM read_csv('{path}', "
                "header = true, all_varchar = true, quote = '\"', escape = '\"', "
                "filename = true)")
    cols = [r[0] for r in con.execute(f"DESCRIBE raw_{name}").fetchall()
            if r[0] != "filename"]
    sel = ", ".join(_NULLIF.format(c=f'"{c}"') + f' AS "{c}"' for c in cols)
    con.execute(f"CREATE VIEW {name} AS SELECT {sel}, "
                f"dense_rank() OVER (ORDER BY filename) AS load_rank FROM raw_{name}")


REPORTS = {
    "full_travel_cost": """
WITH tx AS (
  SELECT TRY_CAST(date AS DATE) AS join_date, comments,
    CASE WHEN type IS NULL OR trim(type) = '' THEN 'uncategorized' ELSE type END AS type,
    TRY_CAST(regexp_replace(amount, '[$,]', '', 'g') AS DOUBLE) AS amount
  FROM transactions),
pv AS (
  SELECT join_date,
    sum(CASE WHEN upper(trim(type)) = 'HOTEL' THEN amount ELSE 0.0 END) AS hotel,
    sum(CASE WHEN upper(trim(type)) = 'FOOD' THEN amount ELSE 0.0 END) AS food,
    sum(CASE WHEN upper(trim(type)) = 'ACTIVITY' THEN amount ELSE 0.0 END) AS activity,
    sum(CASE WHEN upper(trim(type)) = 'TRAVEL' THEN amount ELSE 0.0 END) AS travel,
    sum(CASE WHEN upper(trim(type)) = 'MISC' THEN amount ELSE 0.0 END) AS misc,
    coalesce(string_agg(comments, '; ' ORDER BY comments), '') AS cost_comment
  FROM tx WHERE join_date IS NOT NULL GROUP BY join_date),
logs AS (
  SELECT CAST(day AS INTEGER) AS day, date, city, country, description,
    comments, food AS food_desc, travel AS travel_desc, hotel AS hotel_desc,
    TRY_CAST(date AS DATE) AS order_date
  FROM manual_logs
  QUALIFY row_number() OVER (PARTITION BY date ORDER BY load_rank DESC) = 1),
j AS (
  SELECT l.*, coalesce(p.hotel, 0.0) AS hotel, coalesce(p.food, 0.0) AS food,
    coalesce(p.activity, 0.0) AS activity, coalesce(p.travel, 0.0) AS travel,
    coalesce(p.misc, 0.0) AS misc, p.cost_comment
  FROM logs l LEFT JOIN pv p ON l.order_date = p.join_date),
t AS (SELECT *, hotel + food + activity + travel + misc AS total FROM j)
SELECT day, date, city, country, description, hotel, food, activity, travel,
  misc, total,
  sum(total) OVER (ORDER BY order_date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_total,
  CASE WHEN day > 0 THEN sum(total) OVER (ORDER BY order_date ROWS BETWEEN
    UNBOUNDED PRECEDING AND CURRENT ROW) / day ELSE 0.0 END AS daily_avg,
  cost_comment, comments, food_desc, travel_desc, hotel_desc, order_date
FROM t""",
    "travel_tax_report": """
WITH fl AS (
  SELECT TRY_CAST(date AS DATE) AS flight_date, "to" AS arrival_airport,
    TRY_CAST(split_part(duration, ':', 1) AS DOUBLE) +
      TRY_CAST(split_part(duration, ':', 2) AS DOUBLE) / 60.0 AS duration_hours
  FROM flight_logs
  QUALIFY row_number() OVER (PARTITION BY date, flight_number ORDER BY load_rank DESC) = 1),
f AS (
  SELECT flight_date, sum(duration_hours) AS total_flight_hours,
    count(*) AS flight_count,
    array_to_string(list_sort(list_distinct(list(arrival_airport))), ', ') AS destinations
  FROM fl GROUP BY flight_date),
s AS (
  SELECT CAST(TRY_CAST("timestamp" AS TIMESTAMP) AS DATE) AS wake_up_date,
    CAST(overall_score AS BIGINT) AS overall_score,
    CAST(deep_sleep_in_minutes AS BIGINT) AS deep_sleep_in_minutes,
    CAST(resting_heart_rate AS BIGINT) AS resting_heart_rate
  FROM fitbit_sleep_score
  QUALIFY row_number() OVER (PARTITION BY sleep_log_entry_id ORDER BY load_rank DESC) = 1),
hm AS (
  SELECT date_trunc('minute', ts) AS m, avg(bpm) AS hr_mean, min(bpm) AS hr_min,
    max(bpm) AS hr_max
  FROM (SELECT TRY_CAST("timestamp" AS TIMESTAMP) AS ts,
          TRY_CAST(beats_per_minute AS DOUBLE) AS bpm FROM fitbit_heart_rate)
  WHERE ts IS NOT NULL GROUP BY 1),
hh AS (
  SELECT CAST(m AS DATE) AS date, hour(m) AS hour, avg(hr_mean) AS hr_mean,
    min(hr_min) AS hr_min, max(hr_max) AS hr_max
  FROM hm GROUP BY 1, 2),
h AS (
  SELECT date AS hr_date, min(hr_min) AS daily_min_hr, max(hr_max) AS daily_max_hr
  FROM hh GROUP BY 1)
SELECT coalesce(f.flight_date, CAST(s.wake_up_date - INTERVAL 1 DAY AS DATE)) AS report_date,
  coalesce(f.total_flight_hours > 0, false) AS is_travel_day,
  coalesce(f.total_flight_hours, 0.0) AS total_flight_hours,
  coalesce(f.flight_count, 0) AS flight_count,
  coalesce(f.destinations, 'No Travel') AS destination_city,
  s.overall_score AS next_day_sleep_score,
  s.deep_sleep_in_minutes AS next_day_deep_sleep_min,
  s.resting_heart_rate AS next_day_resting_hr,
  h.daily_max_hr - h.daily_min_hr AS next_day_hr_variability,
  CASE WHEN f.total_flight_hours > 4 AND s.overall_score < 70 THEN 'High Strain'
       WHEN s.overall_score > 85 THEN 'Well Recovered' ELSE 'Normal' END AS recovery_status
FROM f FULL OUTER JOIN s ON f.flight_date = CAST(s.wake_up_date - INTERVAL 1 DAY AS DATE)
LEFT JOIN h ON s.wake_up_date = h.hr_date""",
    "transport_mode_analysis": """
WITH segs AS (
  SELECT unnest(json_extract(content::JSON, '$.semanticSegments[*]')) AS seg
  FROM read_text('{timeline}')),
a AS (
  SELECT json_extract_string(seg, '$.activity.topCandidate.type') AS activity_type,
    TRY_CAST(json_extract_string(seg, '$.activity.distanceMeters') AS DOUBLE) AS distance_meters,
    epoch(TRY_CAST(json_extract_string(seg, '$.endTime') AS TIMESTAMP)) -
      epoch(TRY_CAST(json_extract_string(seg, '$.startTime') AS TIMESTAMP)) AS secs,
    coalesce(TRY_CAST(json_extract_string(seg, '$.activity.probability') AS DOUBLE),
      TRY_CAST(json_extract_string(seg, '$.activity.topCandidate.probability') AS DOUBLE)) AS confidence
  FROM segs
  WHERE json_extract(seg, '$.visit') IS NULL AND json_extract(seg, '$.activity') IS NOT NULL)
SELECT activity_type, sum(distance_meters) / 1000.0 AS total_distance_km,
  sum(secs) / 3600.0 AS total_duration_hours, count(*) AS segment_count,
  avg(confidence) AS avg_confidence
FROM a WHERE activity_type IS NOT NULL GROUP BY activity_type""",
}


def replay(landing):
    """Returns report name -> (column names, rows) from the landing files."""
    con = duckdb.connect()
    for name in ("transactions", "manual_logs", "flight_logs",
                 "fitbit_sleep_score", "fitbit_heart_rate"):
        _csv(con, name, os.path.join(landing, name, f"{name}_*.csv"))
    timeline = os.path.join(landing, "google_timeline", "google_timeline_*.json")
    out = {}
    for name, sql in REPORTS.items():
        cur = con.execute(sql.replace("{timeline}", timeline))
        out[name] = ([d[0] for d in cur.description], cur.fetchall())
    con.close()
    return out


def _norm(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is None and b is None
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return _norm(a) == _norm(b)


def _key(row):
    return tuple((v is None, str(_norm(v)) if not isinstance(v, float)
                  else round(v, 6)) for v in row)


def compare(gold_dir, landing):
    """Mismatch descriptions between the Gold parquet and the replay."""
    problems = []
    con = duckdb.connect()
    for name, (cols, want) in replay(landing).items():
        path = os.path.join(gold_dir, name, "*.parquet")
        quoted = ", ".join(f'"{c}"' for c in cols)
        got = con.execute(f"SELECT {quoted} FROM read_parquet('{path}')").fetchall()
        if len(got) != len(want):
            problems.append(f"{name}: {len(got)} rows, replay has {len(want)}")
            continue
        bad = 0
        for g, w in zip(sorted(got, key=_key), sorted(want, key=_key)):
            if not all(_same(x, y) for x, y in zip(g, w)):
                bad += 1
                if bad == 1:
                    problems.append(f"{name}: row differs: {g} vs replay {w}")
        if bad > 1:
            problems.append(f"{name}: {bad} rows differ")
        if not want:
            problems.append(f"{name}: replay is empty")
    con.close()
    return problems
