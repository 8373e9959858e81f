"""Seeded generator for the warehouse pipeline's own source files.

Writes, under ``<out>/``:

  fitbit/dailyActivity_merged.csv       fitbit/heartrate_seconds_merged.csv
  fitbit/hourlyCalories_merged.csv      fitbit/weightLogInfo_merged.csv
  fitbit/minuteSleep_merged.csv         gym_members_exercise_tracking.csv
  gym_recommendation.xlsx (Mendeley)    nutrition.xlsx (77 columns)

The two sheets are real xlsx workbooks with a shared-string table, written
with the standard library (no CSV siblings, so the pipeline's native xlsx
reader is what ingests them). The data carries the quirks the pipeline is
specified against: US ``M/d/yyyy [h:mm:ss AM]`` dates, inactive activity
days, dates before the date dimension, out-of-range BMIs, unparseable
ages, in-source and cross-source duplicate profiles, unit-suffixed and
typo'd nutrient columns, duplicate and missing food names.

Because every duplicate is an exact copy of the profile it repeats, the
row count of each warehouse table follows from the construction alone;
``generate`` returns those counts as ``expected``.

Usage: python3 perfbench/gen_fitness.py OUT_DIR [--seed N]
"""

from __future__ import annotations

import argparse
import os
import random
import re
import zipfile
from datetime import date, timedelta
from xml.sax.saxutils import escape

# Input sizes: those of the source snapshot the pipeline was written for
# (Fitabase 3.12-4.11 export for the Fitbit files).
SIZES: dict[str, int] = {
    "mendeley_rows": 14_589, "mendeley_profiles": 4_700,
    "nutrition_rows": 8_789, "gym_rows": 973,
    "daily_rows": 457, "hourly_rows": 24_084, "weight_rows": 33,
    "hr_rows": 1_150_000, "sleep_rows": 199_000, "fitbit_users": 35,
}

DIM_DATE_FIRST = date(2016, 1, 1)
SNAPSHOT_FIRST = date(2016, 3, 12)  # first day of the export window
SNAPSHOT_DAYS = 31

FITNESS_TYPES = ["Muscular Fitness", "Cardio Fitness"]
GOALS = ["Weight Gain", "Weight Loss"]
LEVELS = ["Underweight", "Normal", "Overweight", "Obuse"]
EXERCISES = [
    "Squats, deadlifts, bench presses, and overhead presses",
    "Brisk walking, cycling, swimming, running, or dancing",
    "Walking, Yoga, Swimming",
    "Squats, yoga, deadlifts, bench presses, and overhead presses",
]
EQUIPMENT = ["Dumbbells and barbells", "Ellipticals, indoor rowers", "Light athletic shoes"]
DIET_GROUPS = {
    "Vegetables": ["Carrots", "Sweet Potato", "Lettuce", "Broccoli", "Spinach",
                   "Tomatoes", "Garlic", "Cabbage", "Mushrooms", "Peppers"],
    "Protein Intake": ["Eggs", "Milk", "Cheese", "Chicken", "Fish", "Tofu",
                       "Legumes", "Baru Nuts", "Yogurt", "Turkey"],
    "Juice": ["Fruit Juice", "Aloe Vera Juice", "Cold-Pressed Juice",
              "Watermelon Juice", "Carrot Juice", "Green Juice"],
}
# gym Workout_Type → the pipeline's keyword goal map (build_muscle on
# 'strength', endurance on 'cardio', the maintain_health default else)
GYM_TYPES = {"Yoga": "maintain_health", "HIIT": "maintain_health",
             "Cardio": "endurance", "Strength": "build_muscle"}

NUTRIENTS = (
    "calories total_fat saturated_fat cholesterol sodium choline folate "
    "folic_acid niacin pantothenic_acid riboflavin thiamin vitamin_a "
    "vitamin_a_rae carotene_alpha carotene_beta cryptoxanthin_beta "
    "lutein_zeaxanthin lucopene vitamin_b12 vitamin_b6 vitamin_c vitamin_d "
    "vitamin_e tocopherol_alpha vitamin_k calcium copper irom magnesium "
    "manganese phosphorous potassium selenium zink protein alanine arginine "
    "aspartic_acid cystine glutamic_acid glycine histidine hydroxyproline "
    "isoleucine leucine lysine methionine phenylalanine proline serine "
    "threonine tryptophan tyrosine valine carbohydrate fiber sugars fructose "
    "galactose glucose lactose maltose sucrose fat saturated_fatty_acids "
    "monounsaturated_fatty_acids polyunsaturated_fatty_acids "
    "fatty_acids_total_trans alcohol ash caffeine theobromine water"
).split()
NUTRITION_HEADER = ["Unnamed: 0", "name", "serving_size", *NUTRIENTS]
assert len(NUTRITION_HEADER) == 77
UNITS = ["g", "mg", "mcg", "IU"]
FOOD_WORDS = ["Rice", "Beans", "Chicken", "Beef", "Pork", "Cheese", "Bread",
              "Apples", "Oats", "Salmon", "Tuna", "Corn", "Peas", "Lentils",
              "Yogurt", "Milk", "Eggs", "Pasta", "Potatoes", "Spinach"]
FOOD_STYLES = ["raw", "cooked", "boiled", "canned", "frozen", "dried",
               "roasted", "fried", "baked", "steamed"]
FOOD_BRANDS = ["", "Generic", "Organic", "Store brand", "Restaurant"]

_SPLIT = re.compile(r"[,\n]| and ")


def clean_items(blob: str | None) -> set[str]:
    """Distinct items of a multi-value text blob, as the pipeline splits
    them: lower-case, split on comma/newline/' and ', strip, drop empty."""
    if blob is None:
        return set()
    return {p.strip() for p in _SPLIT.split(blob.lower())} - {""}


# -- xlsx ------------------------------------------------------------------

def _col_letters(i: int) -> str:
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path: str, rows: list[list[object]]) -> None:
    """One-sheet workbook. Strings go to the shared-string table, ints and
    floats are numeric cells, None leaves the cell out."""
    shared: dict[str, int] = {}
    letters = [_col_letters(i) for i in range(max(len(r) for r in rows))]
    out = [
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>"
    ]
    for r, row in enumerate(rows, 1):
        cells = []
        for c, v in enumerate(row):
            if v is None:
                continue
            ref = f"{letters[c]}{r}"
            if isinstance(v, str):
                k = shared.setdefault(v, len(shared))
                cells.append(f'<c r="{ref}" t="s"><v>{k}</v></c>')
            else:
                cells.append(f'<c r="{ref}"><v>{v!r}</v></c>')
        out.append(f'<row r="{r}">{"".join(cells)}</row>')
    out.append("</sheetData></worksheet>")
    sst = [
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        f'count="{len(shared)}" uniqueCount="{len(shared)}">'
    ]
    sst.extend(f"<si><t>{escape(s)}</t></si>" for s in shared)
    sst.append("</sst>")
    ct = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
        "</Types>"
    )
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
        "</Relationships>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as z:
        z.writestr("[Content_Types].xml", ct)
        z.writestr("_rels/.rels", rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/sharedStrings.xml", "".join(sst))
        z.writestr("xl/worksheets/sheet1.xml", "".join(out))


# -- helpers ---------------------------------------------------------------

def _us_date(d: date) -> str:
    return f"{d.month}/{d.day}/{d.year}"


def _tod(sec: int) -> str:
    h, rem = divmod(sec, 3600)
    m, s = divmod(rem, 60)
    return f"{(h % 12) or 12}:{m:02d}:{s:02d} {'AM' if h < 12 else 'PM'}"


_TOD = [_tod(s) for s in range(86_400)]


def _write_csv(path: str, header: list[str], lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write(",".join(header) + "\n")
        f.write("".join(lines))


def _profile(rng: random.Random) -> tuple[int, str, float, float]:
    """(age, sex, height m 2dp, weight kg 1dp), all inside the warehouse's
    validation ranges."""
    return (
        rng.randint(18, 70),
        rng.choice(["Male", "Female"]),
        rng.randint(145, 205) / 100,
        rng.randint(450, 1300) / 10,
    )


def _key(p: tuple[int, str, float, float]) -> tuple[int, str, int, int]:
    return (p[0], p[1].lower(), round(p[2] * 100), round(p[3] * 10))


# -- generator -------------------------------------------------------------

def generate(out: str, seed: int) -> dict:
    """Write every source file; returns {"expected": table → rows,
    "input_bytes": total bytes written, "sizes": the sizes used}."""
    n = SIZES
    rng = random.Random(seed)
    fitbit_dir = os.path.join(out, "fitbit")
    os.makedirs(fitbit_dir, exist_ok=True)

    # ---- Mendeley sheet (resolution priority 1) --------------------------
    profiles: list[tuple] = []
    seen: set = set()
    while len(profiles) < n["mendeley_profiles"]:
        p = _profile(rng)
        if _key(p) in seen:
            continue
        seen.add(_key(p))
        diet = "; ".join(
            f"{g}: ({', '.join(rng.sample(items, 2))}, and {rng.choice(items)})"
            for g, items in DIET_GROUPS.items()
            if rng.random() < 0.8
        ) or None
        bmi = round(p[3] / (p[2] * p[2]), 2)
        if rng.random() < 0.01:
            bmi = rng.choice([9.52, 9.83, 70.0])  # nulled by the (10, 60) window
        profiles.append((p, {
            "Hypertension": rng.choice(["Yes", "No", "No"]),
            "Diabetes": rng.choice(["Yes", "No", "No", "No"]),
            "BMI": bmi,
            "Level": rng.choice(LEVELS),
            "Fitness Goal": rng.choice(GOALS),
            "Fitness Type": rng.choice(FITNESS_TYPES),
            "Exercises": rng.choice(EXERCISES),
            "Equipment": rng.choice(EQUIPMENT),
            "Diet": diet,
        }))
    m_header = ["ID", "Sex", "Age", "Height", "Weight", "Hypertension", "Diabetes",
                "BMI", "Level", "Fitness Goal", "Fitness Type", "Exercises",
                "Equipment", "Diet", "Recommendation"]
    m_rows: list[list[object]] = [m_header]
    # every profile appears once in order, the rest are exact repeats
    order = list(range(len(profiles)))
    order += [rng.randrange(len(profiles)) for _ in range(n["mendeley_rows"] - len(profiles))]
    rng.shuffle(order)
    created_m: dict = {}  # key -> attrs of the first valid row
    bad_age_rows = 0
    for i, pi in enumerate(order):
        (age, sex, h, w), a = profiles[pi]
        age_cell: object = age
        if rng.random() < 0.002:
            age_cell, bad_age_rows = "abc", bad_age_rows + 1  # row dropped
        else:
            created_m.setdefault(_key((age, sex, h, w)), a)
        m_rows.append([
            i + 1, sex, age_cell, h, w, a["Hypertension"], a["Diabetes"], a["BMI"],
            a["Level"], a["Fitness Goal"], a["Fitness Type"], a["Exercises"],
            a["Equipment"], a["Diet"],
            f"Plan {pi % 97}: {a['Fitness Goal'].lower()} with {a['Equipment'].lower()}",
        ])
    write_xlsx(os.path.join(out, "gym_recommendation.xlsx"), m_rows)

    # ---- gym members CSV (priority 2) --------------------------------------
    g_header = ["Age", "Gender", "Weight (kg)", "Height (m)", "Max_BPM", "Avg_BPM",
                "Resting_BPM", "Session_Duration (hours)", "Calories_Burned",
                "Workout_Type", "Fat_Percentage", "Water_Intake (liters)",
                "Workout_Frequency (days/week)", "Experience_Level", "BMI"]
    m_keys = list(created_m)
    g_lines: list[str] = []
    g_first: dict = {}  # key -> (workout type) of the first gym row
    g_rows: list[tuple] = []
    for _ in range(n["gym_rows"]):
        roll = rng.random()
        if roll < 0.04 and m_keys:  # same person as a Mendeley profile
            age, sex_l, h100, w10 = rng.choice(m_keys)
            p = (age, sex_l.capitalize(), h100 / 100, w10 / 10)
            wtype = rng.choice(list(GYM_TYPES))
        elif roll < 0.06 and g_rows:  # exact repeat of an earlier gym row
            p, wtype = rng.choice(g_rows)
        else:
            p, wtype = _profile(rng), rng.choice(list(GYM_TYPES))
        g_rows.append((p, wtype))
        k = _key(p)
        if k not in created_m:
            g_first.setdefault(k, wtype)
        age, sex, h, w = p
        bmi = round(w / (h * h), 2)
        bmi = min(max(bmi, 12.0), 58.0)  # gym BMI is kept as-is: stay in range
        g_lines.append(
            f"{age},{sex},{w},{h},{rng.randint(160, 200)},{rng.randint(120, 170)},"
            f"{rng.randint(50, 75)},{rng.randint(50, 200) / 100},"
            f"{float(rng.randint(300, 1800))},{wtype},{rng.randint(100, 350) / 10},"
            f"{rng.randint(15, 37) / 10},{rng.randint(2, 5)},{rng.randint(1, 3)},{bmi}\n"
        )
    _write_csv(os.path.join(out, "gym_members_exercise_tracking.csv"), g_header, g_lines)

    # ---- Fitbit CSVs ---------------------------------------------------------
    n_users = n["fitbit_users"]
    ids = sorted(rng.sample(range(1_000_000_000, 9_999_999_999), n_users))
    window = [SNAPSHOT_FIRST + timedelta(days=i) for i in range(SNAPSHOT_DAYS)]
    before = [date(2015, 12, 30), date(2015, 12, 31)]  # outside Dim_Date

    # dailyActivity: inactive days and pre-2016 days are dropped by the facts
    workout_rows = 0
    d_lines = []
    for i in range(n["daily_rows"]):
        uid = ids[i % (n_users - 2)]  # the last two ids only log hourly/heart data
        d = rng.choice(before) if rng.random() < 0.02 else rng.choice(window)
        very, fairly = (0, 0) if rng.random() < 0.1 else (rng.randint(0, 120), rng.randint(1, 60))
        if very + fairly > 0 and d >= DIM_DATE_FIRST:
            workout_rows += 1
        steps = rng.randint(0, 25_000)
        dist = round(steps * 0.00065, 2)
        d_lines.append(
            f"{uid},{_us_date(d)},{steps},{dist},{dist},0,{round(very * 0.05, 2)},"
            f"{round(fairly * 0.04, 2)},{round(dist / 2, 2)},0,{very},{fairly},"
            f"{rng.randint(0, 400)},{rng.randint(400, 1400)},{rng.randint(1200, 4500)}\n"
        )
    _write_csv(os.path.join(fitbit_dir, "dailyActivity_merged.csv"),
               ["Id", "ActivityDate", "TotalSteps", "TotalDistance", "TrackerDistance",
                "LoggedActivitiesDistance", "VeryActiveDistance",
                "ModeratelyActiveDistance", "LightActiveDistance",
                "SedentaryActiveDistance", "VeryActiveMinutes", "FairlyActiveMinutes",
                "LightlyActiveMinutes", "SedentaryMinutes", "Calories"], d_lines)

    # heartrate seconds: ~40% of users, readings every 1-9 s in day runs
    hr_users = ids[::max(1, n_users // 14)][:14] + [ids[-1]]
    hr_days: set = set()
    hr_lines: list[str] = []
    per_day = 2_700
    while len(hr_lines) < n["hr_rows"]:
        uid = rng.choice(hr_users)
        d = rng.choice(window) if rng.random() > 0.01 else before[1]
        prefix = f"{uid},{_us_date(d)} "
        sec = rng.randint(0, 30_000)
        todo = min(per_day + rng.randint(-500, 500), n["hr_rows"] - len(hr_lines))
        bpm = rng.randint(60, 100)
        steps = rng.choices(range(1, 10), k=todo)
        drift = rng.choices(range(-3, 4), k=todo)
        for step, db in zip(steps, drift):
            sec += step
            if sec >= 86_400:
                break
            bpm = min(190, max(45, bpm + db))
            hr_lines.append(f"{prefix}{_TOD[sec]},{bpm}\n")
        if d >= DIM_DATE_FIRST:
            hr_days.add((uid, d))
    _write_csv(os.path.join(fitbit_dir, "heartrate_seconds_merged.csv"),
               ["Id", "Time", "Value"], hr_lines)

    # minuteSleep: nights that start before midnight spill into the next day
    sleep_users = ids[: max(2, n_users * 2 // 3)]
    sleep_days: set = set()
    s_lines: list[str] = []
    log_id = 11_114_919_637
    while len(s_lines) < n["sleep_rows"]:
        uid = rng.choice(sleep_users)
        d = rng.choice(window) if rng.random() > 0.01 else before[0]
        start = rng.randint(20 * 3600, 26 * 3600) + 30
        log_id += rng.randint(1, 9_999)
        minutes = min(rng.randint(240, 560), n["sleep_rows"] - len(s_lines))
        days = [f"{uid},{_us_date(d)} ", f"{uid},{_us_date(d + timedelta(days=1))} "]
        states = rng.choices((1, 1, 1, 2, 3), k=minutes)
        for m, state in enumerate(states):
            t = start + 60 * m
            s_lines.append(f"{days[t // 86_400]}{_TOD[t % 86_400]},{state},{log_id}\n")
        for k in range(start // 86_400, (start + 60 * (minutes - 1)) // 86_400 + 1):
            if d + timedelta(days=k) >= DIM_DATE_FIRST:
                sleep_days.add((uid, d + timedelta(days=k)))
    _write_csv(os.path.join(fitbit_dir, "minuteSleep_merged.csv"),
               ["Id", "date", "value", "logId"], s_lines)

    # hourlyCalories: extracted, never aggregated; its ids still become users
    c_lines = []
    for i in range(n["hourly_rows"]):
        uid = ids[i % n_users]
        d = window[(i // n_users // 24) % SNAPSHOT_DAYS]
        c_lines.append(f"{uid},{_us_date(d)} {_TOD[3600 * (i // n_users % 24)]},{rng.randint(40, 250)}\n")
    _write_csv(os.path.join(fitbit_dir, "hourlyCalories_merged.csv"),
               ["Id", "ActivityHour", "Calories"], c_lines)

    # weightLogInfo: BMI outside (10, 60) is nulled, Fat is mostly empty
    w_lines = []
    weight_rows = 0
    for i in range(n["weight_rows"]):
        uid = ids[rng.randrange(min(8, n_users))]
        d = before[1] if i == 0 else rng.choice(window)
        kg = rng.randint(520, 1300) / 10
        bmi = rng.choice([8.5, 61.2]) if rng.random() < 0.1 else rng.randint(1800, 3800) / 100
        fat = str(rng.randint(15, 30)) if rng.random() < 0.1 else ""
        manual = rng.choice(["True", "False"])
        w_lines.append(
            f"{uid},{_us_date(d)} 11:59:59 PM,{kg},{round(kg * 2.20462, 1)},{fat},"
            f"{bmi},{manual},{1_459_900_799_000 + i * 86_400_000}\n"
        )
        if d >= DIM_DATE_FIRST:
            weight_rows += 1
    _write_csv(os.path.join(fitbit_dir, "weightLogInfo_merged.csv"),
               ["Id", "Date", "WeightKg", "WeightPounds", "Fat", "BMI",
                "IsManualReport", "LogId"], w_lines)

    # ---- nutrition sheet ---------------------------------------------------
    n_rows: list[list[object]] = [NUTRITION_HEADER]
    amounts = [f"{rng.randint(0, 5000) / 100:.2f} {rng.choice(UNITS)}" for _ in range(4000)]
    names: set[str] = set()
    issued: list[str] = []
    for i in range(n["nutrition_rows"]):
        roll = rng.random()
        if roll < 0.002:
            name = None  # dropped (FoodName is required)
        elif roll < 0.02 and issued:
            name = rng.choice(issued)  # later duplicate: first one wins
        else:
            brand = rng.choice(FOOD_BRANDS)
            name = (f"{brand + ' ' if brand else ''}{rng.choice(FOOD_WORDS)}, "
                    f"{rng.choice(FOOD_STYLES)}, {i}")
            issued.append(name)
        if name is not None:
            names.add(name)
        row: list[object] = [i, name, "100 g",
                             rng.randint(0, 900) if rng.random() > 0.01 else "n/a"]
        row.extend(rng.choices(amounts, k=len(NUTRIENTS) - 1))
        n_rows.append(row)
    write_xlsx(os.path.join(out, "nutrition.xlsx"), n_rows)

    # ---- expected warehouse row counts -------------------------------------
    fitbit_users = len(set(ids))
    staging = (
        [("mendeley", a) for a in created_m.values()]
        + [("gym", w) for w in g_first.values()]
        + [("fitbit", None)] * fitbit_users
    )
    goals, types, conditions, exercises, diets = set(), set(), set(), set(), set()
    b_cond = b_ex = b_diet = 0
    for src, a in staging:
        if src == "mendeley":
            goals.add("maintain_health")  # reference quirk: goal column misread
            types.add(a["Fitness Type"])
            cond = ", ".join(x.lower() for x in ("Hypertension", "Diabetes") if a[x] == "Yes")
            items = clean_items(cond or None)
            conditions |= items
            b_cond += len(items)
            items = clean_items(a["Diet"])
            diets |= items
            b_diet += len(items)
        elif src == "gym":
            goals.add(GYM_TYPES[a])
            types.add(a)
            items = clean_items(a)
            exercises |= items
            b_ex += len(items)
        else:
            goals.add("maintain_health")
    n_users_total = len(staging)
    n_foods = len(names)
    expected = {
        "Dim_Date": (date(2025, 12, 31) - DIM_DATE_FIRST).days + 1,
        "Dim_User": n_users_total,
        "Dim_FitnessGoal": len(goals),
        "Dim_FitnessType": len(types),
        "Dim_WorkoutType": len(types),
        "Dim_HealthCondition": len(conditions),
        "Dim_Exercise": len(exercises),
        "Dim_Diet": len(diets),
        "Dim_FoodItem": n_foods,
        "Dim_MetricType": 4,
        "Dim_MealType": 4,
        "Bridge_User_HealthCondition": b_cond,
        "Bridge_User_WorkoutPreference": b_ex,
        "Bridge_User_DietPreference": b_diet,
        "Fact_UserSnapshot": n_users_total,
        "Fact_WorkoutSession": workout_rows,
        "Fact_HealthMetric": len(sleep_days) + len(hr_days) + 2 * weight_rows,
        "Fact_NutritionLog": _nutrition_log_rows(min(10, n_users_total), n_foods),
    }
    input_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(out) for f in fs
    )
    return {"expected": expected, "input_bytes": input_bytes, "sizes": n,
            "mendeley_valid_rows": len(order) - bad_age_rows}


def _nutrition_log_rows(n_sample_users: int, n_foods: int, seed: int = 42) -> int:
    """Rows of the pipeline's seeded demo meal log: per sampled user,
    3-5 distinct days of 3-5 meals, all inside the 30-day window the
    default anchor (2025-11-01) keeps inside the date dimension. The RNG
    calls are replayed in order because the food draw's bit consumption
    depends on the number of foods."""
    rng = random.Random(seed)
    window = list(range(30))
    rows = 0
    for _ in range(n_sample_users):
        for _day in rng.sample(window, rng.randint(3, 5)):
            for _ in range(rng.randint(3, 5)):
                rng.choice(range(4))
                rng.randint(1, n_foods)
                rng.uniform(0.5, 3.0)
                rows += 1
    return rows


def main() -> None:
    import json

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=0)
    a = ap.parse_args()
    print(json.dumps(generate(a.out_dir, a.seed)))


if __name__ == "__main__":
    main()
