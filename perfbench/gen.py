"""Seeded input generator for the perfbench workloads.

    python3 perfbench/gen.py --seed 7 --out .perfbench_work/inputs

Writes, under ``--out`` only:

* ``etl/``: reference-shaped raw files for ``graft.etl.Pipeline.fileInputs``
  (fitbit and gym CSVs, mendeley and nutrition as minimal XLSX), with
  cross-source duplicate profiles, unit-suffixed nutrition strings and
  out-of-range BMIs;
* ``corpus/``: the index_lifecycle corpus (documents plus 64-dim
  embeddings with planted near-duplicates), the nightly delta files and
  the nightly query batches;
* ``expected.json``: what the generator planted (warehouse row counts,
  aggregate totals, the applied nightly script), which the benchmark
  checks the engine's outputs against.

The same seed gives byte-identical files. The last stdout line is a JSON
summary of the rows and bytes produced.
"""

import argparse
import bisect
import datetime as dt
import json
import os
import random
import re
import sys
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# sizes: the reference's raw layout is ~1.4M rows; this keeps its shape
# (heart-rate seconds the bulk) at ~0.36M rows, so a cold nightly run fits
# the benchmark's time budget

N_MENDELEY = 14589
N_GYM = 973
N_FOODS = 8789
N_FITBIT = 33
FIRST_DAY = dt.date(2016, 3, 12)
N_DAYS = 31
HR_ROWS_TARGET = 200_000

# index_lifecycle: the base is over 20x a night's delta and does not
# depend on the seed (the seed drives the nightly script)
BASE_SEED = 20160312
N_BASE_DOCS = 4000
N_NIGHTS = 4
NIGHT_APPEND = 120
NIGHT_DELETE = 30
NIGHT_REVISE = 20
NIGHT_QUERIES = 24
DIMS = 64
QUERY_ID_BASE = 1_000_000_000

GOALS = ["Weight Loss", "Muscle Gain", "endurance running",
         "Fat Loss and Toning", "maintain health", "Build Strength",
         "cycling endurance", "General wellness", "stay active"]
MENDELEY_TYPES = ["Cardio", "Strength", "Yoga", "HIIT", "Flexibility",
                  "Pilates"]
GYM_TYPES = ["Yoga", "HIIT", "Cardio", "Strength"]
EXERCISES = ["Squats", "Lunges", "Planks", "Deadlifts", "Bench Press",
             "Running", "Cycling", "Swimming", "Push Ups", "Burpees",
             "Rowing", "Jump Rope", "Pull Ups", "Kettlebell Swings"]
DIETS = ["Vegetables", "Lean Protein", "Brown Rice", "Oats", "Fish",
         "Poultry", "Nuts", "Berries", "Greek Yogurt", "Lentils",
         "Sweet Potato", "Olive Oil", "Quinoa"]
LEVELS = ["Underweight", "Normal", "Overweight", "Obuse"]
FOOD_WORDS = ["apple", "oat", "bean", "rice", "salmon", "beef", "kale",
              "corn", "milk", "bread", "tofu", "pepper", "squash", "pear",
              "lamb", "egg", "cheese", "yam", "plum", "walnut"]
TAXONOMY = [
    ("lose_weight", ["lose", "weight loss", "fat loss", "cut"]),
    ("build_muscle", ["muscle", "strength", "hypertrophy", "build", "gain"]),
    ("endurance", ["endurance", "cardio", "running", "cycling", "marathon"]),
    ("maintain_health", ["maintain", "health", "wellness", "balance"]),
]


def classify_goal(text):
    """Pipeline's keyword taxonomy (first matching label wins)."""
    low = (text or "").lower()
    for label, kws in TAXONOMY:
        if any(k in low for k in kws):
            return label
    return "maintain_health"


def blob_tokens(blob):
    """Normalize.tokenizeBlob: split on [,\\n] or ' and ', trim, drop ''."""
    if blob is None:
        return set()
    return {t.strip() for t in re.split(r"[,\n]| and ", blob.lower())
            if t.strip()}


def join_items(items):
    if len(items) == 1:
        return items[0]
    return ", ".join(items[:-1]) + " and " + items[-1]


def us_date(d):
    return f"{d.month}/{d.day}/{d.year}"


def us_ts(d, sec):
    h, rem = divmod(sec, 3600)
    m, s = divmod(rem, 60)
    h12 = h % 12 or 12
    return f"{d.month}/{d.day}/{d.year} {h12}:{m:02d}:{s:02d} " \
        f"{'AM' if h < 12 else 'PM'}"


def date_key(d):
    return d.year * 10000 + d.month * 100 + d.day


# ---------------------------------------------------------------------------
# minimal XLSX (inline strings; the subset graft.sources.Xlsx reads)

def col_ref(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path, header, rows):
    """One-sheet workbook; None cells are left blank, numbers are <v>."""
    def cell(ref, v):
        if v is None:
            return ""
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return f'<c r="{ref}"><v>{v}</v></c>'
        return (f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}'
                f'</t></is></c>')
    refs = [col_ref(i) for i in range(len(header))]
    parts = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             '<worksheet xmlns="http://schemas.openxmlformats.org/'
             'spreadsheetml/2006/main"><sheetData>']
    for r, row in enumerate([header] + rows, start=1):
        parts.append(f'<row r="{r}">')
        parts.append("".join(cell(f"{refs[i]}{r}", v)
                             for i, v in enumerate(row)))
        parts.append("</row>")
    parts.append("</sheetData></worksheet>")
    ns = "http://schemas.openxmlformats.org"
    files = {
        "[Content_Types].xml":
            '<?xml version="1.0" encoding="UTF-8"?><Types xmlns="'
            f'{ns}/package/2006/content-types"><Default Extension="rels" '
            'ContentType="application/vnd.openxmlformats-package.'
            'relationships+xml"/><Default Extension="xml" ContentType='
            '"application/xml"/><Override PartName="/xl/workbook.xml" '
            'ContentType="application/vnd.openxmlformats-officedocument.'
            'spreadsheetml.sheet.main+xml"/><Override PartName="/xl/'
            'worksheets/sheet1.xml" ContentType="application/vnd.'
            'openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            '</Types>',
        "_rels/.rels":
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="'
            f'{ns}/package/2006/relationships"><Relationship Id="rId1" '
            f'Type="{ns}/officeDocument/2006/relationships/officeDocument" '
            'Target="xl/workbook.xml"/></Relationships>',
        "xl/workbook.xml":
            f'<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="{ns}/'
            f'spreadsheetml/2006/main" xmlns:r="{ns}/officeDocument/2006/'
            'relationships"><sheets><sheet name="Sheet1" sheetId="1" '
            'r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="'
            f'{ns}/package/2006/relationships"><Relationship Id="rId1" '
            f'Type="{ns}/officeDocument/2006/relationships/worksheet" '
            'Target="worksheets/sheet1.xml"/></Relationships>',
        "xl/worksheets/sheet1.xml": "".join(parts),
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in files.items():
            info = zipfile.ZipInfo(name, date_time=(2016, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, body)
    return len(rows)


def write_csv(path, header, rows):
    with open(path, "w", newline="") as f:
        f.write(",".join(header) + "\n")
        f.writelines(",".join(map(str, r)) + "\n" for r in rows)
    return len(rows)


# ---------------------------------------------------------------------------
# etl_nightly raw files

def gen_etl(rng, out):
    os.makedirs(os.path.join(out, "fitbit"), exist_ok=True)
    rows_by_file = {}
    # profile hash key -> (priority, original_id, attrs) of the winner
    winners = {}

    def offer(key, prio, oid, attrs):
        cur = winners.get(key)
        if cur is None or (prio, oid) < (cur[0], cur[1]):
            winners[key] = (prio, oid, attrs)

    def profile():
        return (rng.randint(18, 70), rng.choice(["Male", "Female"]),
                f"{rng.randint(150, 200) / 100:.2f}",
                f"{rng.randint(450, 1300) / 10:.1f}")

    # ---- mendeley (XLSX): ~8% in-file duplicate profiles
    m_rows, m_profiles = [], []
    for i in range(1, N_MENDELEY + 1):
        if m_profiles and rng.random() < 0.08:
            age, sex, h, w = rng.choice(m_profiles)
        else:
            age, sex, h, w = profile()
            m_profiles.append((age, sex, h, w))
        bmi = round(float(w) / float(h) ** 2, 1)
        if rng.random() < 0.01:
            bmi = rng.choice([4.5, 120.0, 199.0])  # out of range -> nulled
        hyp, dia = rng.random() < 0.3, rng.random() < 0.15
        goal = rng.choice(GOALS)
        ftype = rng.choice(MENDELEY_TYPES)
        ex = join_items(rng.sample(EXERCISES, rng.randint(1, 4)))
        diet = join_items(rng.sample(DIETS, rng.randint(1, 4)))
        m_rows.append([i, sex, age, float(h), float(w),
                       "Yes" if hyp else "No", "No" if not dia else "Yes",
                       bmi, rng.choice(LEVELS), goal, ftype, ex,
                       rng.choice(["Dumbbells", "Barbell", "None"]), diet,
                       "stay consistent"])
        conds = ", ".join(x for x, f in (("hypertension", hyp),
                                         ("diabetes", dia)) if f)
        offer((age, sex.lower(), h, w), 1, f"mendeley_{i}",
              {"source": "mendeley", "goal": classify_goal(goal),
               "type": ftype, "cond": blob_tokens(conds),
               "ex": blob_tokens(ex), "diet": blob_tokens(diet)})
    rows_by_file["gym_recommendation.xlsx"] = write_xlsx(
        os.path.join(out, "gym_recommendation.xlsx"),
        ["ID", "Sex", "Age", "Height", "Weight", "Hypertension", "Diabetes",
         "BMI", "Level", "Fitness Goal", "Fitness Type", "Exercises",
         "Equipment", "Diet", "Recommendation"], m_rows)

    # ---- gym (CSV): ~10% share a mendeley profile (mendeley wins the
    # cross-source match); in-file repeats are exact duplicate rows, so
    # the content-hashed original_id never decides a winner
    g_rows = []
    for _ in range(N_GYM):
        if g_rows and rng.random() < 0.03:
            g_rows.append(list(rng.choice(g_rows)))
            continue
        if rng.random() < 0.10:
            age, sex, h, w = rng.choice(m_profiles)
        else:
            age, sex, h, w = profile()
        bmi = round(float(w) / float(h) ** 2, 2)
        if rng.random() < 0.01:
            bmi = 75.5  # out of range -> nulled
        g_rows.append([age, sex, float(w), float(h), rng.randint(160, 200),
                       rng.randint(120, 170), rng.randint(50, 75),
                       rng.randint(5, 20) / 10, rng.randint(300, 1500),
                       rng.choice(GYM_TYPES), rng.randint(100, 350) / 10,
                       rng.randint(15, 37) / 10, rng.randint(2, 5),
                       rng.randint(1, 3), bmi])
    for r in g_rows:
        age, sex, w, h, wtype = r[0], r[1], r[2], r[3], r[9]
        key = (age, sex.lower(), f"{h:.2f}", f"{w:.1f}")
        # gym ids are content hashes; priority alone decides vs mendeley
        offer(key, 2, "gym_", {"source": "gym", "goal": classify_goal(wtype),
                               "type": wtype, "cond": set(), "ex": set(),
                               "diet": set()})
    rows_by_file["gym_members_exercise_tracking.csv"] = write_csv(
        os.path.join(out, "gym_members_exercise_tracking.csv"),
        ["Age", "Gender", "Weight (kg)", "Height (m)", "Max_BPM", "Avg_BPM",
         "Resting_BPM", "Session_Duration (hours)", "Calories_Burned",
         "Workout_Type", "Fat_Percentage", "Water_Intake (liters)",
         "Workout_Frequency (days/week)", "Experience_Level", "BMI"],
        g_rows)

    # ---- nutrition (XLSX): unit suffixes, garbage, exact duplicate
    # rows and null names
    n_rows, names = [], set()
    for i in range(N_FOODS):
        if n_rows and rng.random() < 0.02:
            dup = list(rng.choice(n_rows))
            dup[0] = i
            n_rows.append(dup)
            continue
        if rng.random() < 0.005:
            name = None
        else:
            name = (f"{rng.choice(FOOD_WORDS)} {rng.choice(FOOD_WORDS)} "
                    f"{i}")
            names.add(name)

        def unit(v):
            return rng.choice([f"{v}g", f"{v} g", f"{v}", f"{v} mg"])
        fiber = "garbage" if rng.random() < 0.02 else unit(
            rng.randint(0, 150) / 10)
        n_rows.append([i, name, "100 g", str(rng.randint(10, 900)),
                       unit(rng.randint(0, 500) / 10),
                       unit(rng.randint(0, 400) / 10),
                       str(rng.randint(0, 900) / 10), fiber])
    rows_by_file["nutrition.xlsx"] = write_xlsx(
        os.path.join(out, "nutrition.xlsx"),
        [None, "name", "serving_size", "calories", "total_fat", "protein",
         "carbohydrate", "fiber"], n_rows)

    # ---- fitbit CSVs
    ids = sorted(rng.sample(range(1_000_000_000, 9_999_999_999), N_FITBIT))
    days = [FIRST_DAY + dt.timedelta(days=k) for k in range(N_DAYS)]
    daily, active_steps, sessions = [], 0, 0
    for fid in ids:
        for d in days:
            if rng.random() < 0.1:
                continue
            very, fairly = rng.randint(0, 60), rng.randint(0, 40)
            if rng.random() < 0.12:
                very = fairly = 0  # inactive day -> no session row
            steps = rng.randint(0, 20000)
            if very + fairly > 0:
                sessions += 1
                active_steps += steps
            daily.append([fid, us_date(d), steps, round(steps / 1400, 2),
                          0, 0, 0, 0, 0, 0, very, fairly,
                          rng.randint(0, 300), rng.randint(600, 1300),
                          rng.randint(1200, 3500)])
    rows_by_file["fitbit/dailyActivity_merged.csv"] = write_csv(
        os.path.join(out, "fitbit/dailyActivity_merged.csv"),
        ["Id", "ActivityDate", "TotalSteps", "TotalDistance",
         "TrackerDistance", "LoggedActivitiesDistance", "VeryActiveDistance",
         "ModeratelyActiveDistance", "LightActiveDistance",
         "SedentaryActiveDistance", "VeryActiveMinutes",
         "FairlyActiveMinutes", "LightlyActiveMinutes", "SedentaryMinutes",
         "Calories"], daily)

    metric_rows = {"heart_rate": 0, "sleep": 0, "weight": 0, "bmi": 0}
    weight = []
    for fid in rng.sample(ids, 12):
        for d in rng.sample(days, 6):
            kg = rng.randint(500, 1200) / 10
            bmi = rng.choice([199.0, 5.0]) if rng.random() < 0.1 else \
                rng.randint(180, 400) / 10
            weight.append([fid, us_ts(d, 86399), kg, round(kg * 2.20462, 2),
                           "", bmi, rng.choice(["True", "False"]),
                           rng.randint(10**12, 10**13)])
            metric_rows["weight"] += 1
            metric_rows["bmi"] += 1 if 10 < bmi < 60 else 0
    rows_by_file["fitbit/weightLogInfo_merged.csv"] = write_csv(
        os.path.join(out, "fitbit/weightLogInfo_merged.csv"),
        ["Id", "Date", "WeightKg", "WeightPounds", "Fat", "BMI",
         "IsManualReport", "LogId"], weight)

    sleep, sleep_days = [], set()
    for fid in rng.sample(ids, 24):
        for d in rng.sample(days, 20):
            start = rng.randint(0, 5 * 3600 // 60) * 60  # after midnight
            for k in range(rng.randint(180, 300)):
                sec = start + 60 * k
                if sec >= 86400:
                    break
                sleep.append([fid, us_ts(d, sec), rng.randint(1, 3),
                              10**10 + len(sleep)])
                sleep_days.add((fid, d))
    metric_rows["sleep"] = len(sleep_days)
    rows_by_file["fitbit/minuteSleep_merged.csv"] = write_csv(
        os.path.join(out, "fitbit/minuteSleep_merged.csv"),
        ["Id", "date", "value", "logId"], sleep)

    # heart-rate seconds: the bulk of the raw rows, built column-wise
    hr_days = [(fid, d) for fid in ids for d in days if rng.random() < 0.8]
    per_day = HR_ROWS_TARGET // len(hr_days) + 1
    nrng = np.random.default_rng(rng.getrandbits(63))
    starts = nrng.integers(0, 6 * 3600, len(hr_days))
    secs = starts[:, None] + np.cumsum(
        nrng.choice([5, 5, 5, 10, 15], (len(hr_days), per_day)), axis=1)
    keep = secs < 86400
    day_idx = np.nonzero(keep)[0]
    tod = pa.array([us_ts(FIRST_DAY, x).split(" ", 1)[1]
                    for x in range(86400)])
    prefix = pa.array([us_date(d) for _, d in hr_days])
    hr = pa.table({
        "Id": pa.array(np.array([f for f, _ in hr_days])[day_idx]),
        "Time": pc.binary_join_element_wise(
            prefix.take(pa.array(day_idx)), tod.take(pa.array(secs[keep])),
            " "),
        "Value": pa.array(nrng.integers(55, 161, len(day_idx))),
    })
    pcsv.write_csv(hr, os.path.join(
        out, "fitbit/heartrate_seconds_merged.csv"),
        pcsv.WriteOptions(quoting_style="none"))
    metric_rows["heart_rate"] = len(hr_days)
    rows_by_file["fitbit/heartrate_seconds_merged.csv"] = hr.num_rows

    hourly, hour_keys, hourly_cal = [], set(), 0
    for fid in ids:
        for d in days[:24]:
            for h in range(24):
                if rng.random() < 0.05:
                    continue
                cal = rng.randint(40, 250)
                hourly.append([fid, us_ts(d, h * 3600), cal])
                hour_keys.add((fid, d, h))
                hourly_cal += cal
                if rng.random() < 0.02:  # same hour -> aggregated
                    extra = rng.randint(1, 30)
                    hourly.append([fid, us_ts(d, h * 3600 + 1800), extra])
                    hourly_cal += extra
    rows_by_file["fitbit/hourlyCalories_merged.csv"] = write_csv(
        os.path.join(out, "fitbit/hourlyCalories_merged.csv"),
        ["Id", "ActivityHour", "Calories"], hourly)

    # ---- what the warehouse must hold
    canon = list(winners.values())
    fitbit_ids = set(ids)  # every id appears in daily/hourly
    n_users = len(canon) + len(fitbit_ids)

    def distinct(field):
        return set().union(*(a[field] for _, _, a in canon))
    goals = {a["goal"] for _, _, a in canon} | {"maintain_health"}
    tables = {
        "dim_date": 3653, "dim_user": n_users,
        "dim_fitnessgoal": len(goals),
        "dim_fitnesstype": len({a["type"] for _, _, a in canon}),
        "dim_healthcondition": len(distinct("cond")),
        "dim_exercise": len(distinct("ex")), "dim_diet": len(distinct("diet")),
        "dim_fooditem": len(names), "dim_metrictype": 4, "dim_mealtype": 4,
        "dim_workouttype": len({a["type"] for _, _, a in canon
                                if a["source"] == "gym"}),
        "bridge_user_healthcondition": sum(len(a["cond"]) for _, _, a in canon),
        "bridge_user_workoutpreference": sum(len(a["ex"]) for _, _, a in canon),
        "bridge_user_dietpreference": sum(len(a["diet"]) for _, _, a in canon),
        "fact_usersnapshot": n_users, "fact_workoutsession": sessions,
        "fact_healthmetric": sum(metric_rows.values()),
        "fact_nutritionlog": 200, "fact_hourlyactivity": len(hour_keys),
    }
    agg = {
        "active_steps": active_steps,
        "hourly_calories": hourly_cal,
        "heart_rate_days": metric_rows["heart_rate"],
        "sleep_days": metric_rows["sleep"],
        "bmi_metrics": metric_rows["bmi"],
        "fitbit_users": len(fitbit_ids),
        "first_date_key": date_key(days[0]),
        "last_date_key": date_key(days[-1]),
    }
    return rows_by_file, {"tables": tables, "aggregates": agg}


# ---------------------------------------------------------------------------
# index_lifecycle corpus

def gen_corpus(seed_rng, out):
    """The base corpus (the same for every seed, so its built layouts can
    be reused across runs) and the seed's nightly script."""
    rng = random.Random(BASE_SEED)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted({"".join(rng.choice(letters)
                            for _ in range(rng.randint(3, 8)))
                    for _ in range(3200)})
    cum = []
    acc = 0.0
    for r in range(len(vocab)):
        acc += 1.0 / (r + 1) ** 1.05
        cum.append(acc)
    rng.shuffle(vocab)
    nrng = np.random.default_rng(BASE_SEED)
    centers = nrng.normal(0.0, 1.0, (24, DIMS))

    def text():
        n = rng.randint(20, 60)
        return " ".join(vocab[bisect.bisect_left(cum, rng.random() * acc)]
                        for _ in range(n))

    def near_text(t):
        words = t.split(" ")
        i = rng.randrange(len(words) - 1, len(words))
        words[i] = rng.choice(vocab)
        return " ".join(words)

    def emb():
        c = centers[rng.randrange(len(centers))]
        return np.round(c + nrng.normal(0.0, 0.35, DIMS), 4).tolist()

    def near_emb(e):
        return np.round(np.asarray(e) + nrng.normal(0.0, 0.01, DIMS),
                        4).tolist()

    content = {}  # live doc_id -> (text, emb)

    def new_doc(near_pool):
        if near_pool and rng.random() < 0.1:
            t, e = content[rng.choice(near_pool)]
            return near_text(t), near_emb(e)
        return text(), emb()

    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("n_chars", pa.int64()),
                        ("embedding", pa.list_(pa.float32()))])

    def write(path, rows):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        cols = list(zip(*rows)) if rows else [[], [], []]
        pq.write_table(pa.table({
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "n_chars": pa.array([len(t) for t in cols[1]], pa.int64()),
            "embedding": pa.array(cols[2], pa.list_(pa.float32())),
        }, schema=schema), path, compression="snappy")
        return len(rows)

    base = []
    for doc_id in range(1, N_BASE_DOCS + 1):
        t, e = new_doc(range(max(1, doc_id - 500), doc_id))
        content[doc_id] = (t, e)
        base.append((doc_id, t, e))
    n_rows = write(os.path.join(out, "base.parquet"), base)

    # from here on the seed drives everything
    rng = seed_rng
    nrng = np.random.default_rng(seed_rng.getrandbits(63))
    next_id = N_BASE_DOCS + 1
    nights = []
    for night in range(N_NIGHTS):
        live = sorted(content)
        touched = rng.sample(live, NIGHT_DELETE + NIGHT_REVISE)
        deletes = sorted(touched[:NIGHT_DELETE])
        revises = sorted(touched[NIGHT_DELETE:])
        adds = []
        for _ in range(NIGHT_APPEND):
            t, e = new_doc(live[-2000:])
            adds.append((next_id, t, e))
            next_id += 1
        revised = []
        for doc_id in revises:
            # new words AND a negated vector, so every codec's content
            # changes and the CDC window reports the id as updated
            t, e = content[doc_id]
            revised.append((doc_id, text(), [-x for x in e]))
        for doc_id in deletes:
            del content[doc_id]
        for doc_id, t, e in adds + revised:
            content[doc_id] = (t, e)
        queries = []
        for q in range(NIGHT_QUERIES):
            src = rng.choice(sorted(content))
            t, e = content[src]
            if q % 2 == 0:  # a planted near-duplicate of a live doc
                queries.append((QUERY_ID_BASE + night * 1000 + q,
                                near_text(t), near_emb(e)))
            else:
                queries.append((QUERY_ID_BASE + night * 1000 + q, text(),
                                emb()))
        d = os.path.join(out, f"night={night:03d}")
        n_rows += write(os.path.join(d, "append.parquet"), adds)
        n_rows += write(os.path.join(d, "revise.parquet"), revised)
        n_rows += write(os.path.join(d, "queries.parquet"), queries)
        n_rows += len(deletes)
        nights.append({"append": [a[0] for a in adds], "delete": deletes,
                       "revise": revises})
    return n_rows, {"base_docs": N_BASE_DOCS, "nights": nights}


def tree_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def generate(seed, out, parts=("etl", "corpus")):
    """Write the requested parts under `out`; returns a summary of the
    rows and bytes produced. Each part draws from its own seeded stream,
    so a part's files do not depend on which other parts are made."""
    os.makedirs(out, exist_ok=True)
    rng = random.Random(seed)
    streams = {"etl": rng.getrandbits(64), "corpus": rng.getrandbits(64)}
    summary, expected = {"seed": seed}, {"seed": seed}
    if "etl" in parts:
        rows, expected["etl"] = gen_etl(random.Random(streams["etl"]),
                                        os.path.join(out, "etl"))
        summary["etl_rows"] = sum(rows.values())
        summary["etl_bytes"] = tree_bytes(os.path.join(out, "etl"))
    if "corpus" in parts:
        rows, expected["corpus"] = gen_corpus(
            random.Random(streams["corpus"]), os.path.join(out, "corpus"))
        summary["corpus_rows"] = rows
        summary["corpus_bytes"] = tree_bytes(os.path.join(out, "corpus"))
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, sort_keys=True)
    return summary


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    print(json.dumps(generate(a.seed, a.out), sort_keys=True))


if __name__ == "__main__":
    sys.exit(main())
