"""Seeded Yelp-shaped bronze generator for the ``etl`` workload.

Writes line-delimited JSON with the fields the medallion jobs read
(the same shape as the fixture in ``tests/test_pipelines.py``):

- ``business/``: nested ``hours`` and ``attributes`` structs, Python-repr
  attribute values, stringified dicts, comma-joined ``categories``
  (including ``None``, ``""``, double spaces and a trailing comma);
- ``user/``: comma-joined ``elite`` years and ``friends`` ids (``""``
  allowed);
- ``checkin/``: one row per business with a comma-joined timestamp list,
  some timestamps outside the backfill months;
- ``review/`` and ``tip/``: under ``year=Y/month=M/`` directories.

The same seed gives the same bytes. :func:`generate` also returns the
row counts ``pipelines.backfill`` must report for every silver and gold
output of every month, derived from the generated records alone, and
how many records and bytes one month's run reads.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta

MONTHS = tuple((2021, m) for m in range(1, 9))

CITIES = (("Philadelphia", "PA"), ("Tucson", "AZ"), ("Tampa", "FL"),
          ("Reno", "NV"), ("Boise", "ID"), ("Nashville", "TN"))
CATEGORIES = ("Restaurants", "Food", "Bars", "Cafes", "Pizza", "Nightlife",
              "Coffee & Tea", "Bakeries", "Shopping", "Beauty & Spas",
              "Auto Repair", "Mexican", "Sushi Bars", "Burgers")
DAYS = ("Monday", "Tuesday", "Wednesday", "Thursday", "Friday",
        "Saturday", "Sunday")
WORDS = ("great", "food", "service", "slow", "friendly", "staff", "price",
         "cold", "fresh", "noisy", "clean", "tasty", "back", "again", "wait")


def _ts(rng: random.Random, year: int, month: int) -> str:
    day = rng.randint(1, 28)
    return (f"{year:04d}-{month:02d}-{day:02d} "
            f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:"
            f"{rng.randint(0, 59):02d}")


def _text(rng: random.Random) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 25)))


def _categories(rng: random.Random) -> tuple[str | None, set[str]]:
    """(raw bronze string, the set of names the gold bridge keeps)."""
    roll = rng.random()
    if roll < 0.05:
        return None, set()
    if roll < 0.08:
        return "", set()
    names = rng.sample(CATEGORIES, rng.randint(1, 4))
    raw = ", ".join(names)
    if len(names) > 1 and rng.random() < 0.2:
        raw = raw.replace(", ", ",  ", 1)  # double space, trimmed in gold
    if rng.random() < 0.1:
        raw += ", "  # trailing empty token, filtered in gold
    return raw, set(names)


def _business(rng: random.Random, i: int) -> tuple[dict, set[str]]:
    city, state = rng.choice(CITIES)
    hours = {}
    for day in DAYS:
        roll = rng.random()
        if roll < 0.7:
            hours[day] = f"{rng.randint(6, 11)}:0-{rng.randint(15, 23)}:{rng.choice((0, 30))}"
        elif roll < 0.8:
            hours[day] = None
    attributes = {"WiFi": rng.choice(("u'free'", "u'no'", "'paid'", "none"))}
    if rng.random() < 0.8:
        attributes["BusinessParking"] = rng.choice((
            "{'garage': True, 'lot': False}",
            "{'garage': False, 'street': True}",
            "{'valet': False}",
            "None",
        ))
    if rng.random() < 0.6:
        attributes["BikeParking"] = rng.choice(("True", "False"))
    raw_cats, cats = _categories(rng)
    return {
        "business_id": f"b{i:06d}",
        "name": f"Business {i}",
        "city": city,
        "state": state,
        "postal_code": f"{rng.randint(10000, 99999)}",
        "latitude": round(rng.uniform(25.0, 48.0), 6),
        "longitude": round(rng.uniform(-120.0, -75.0), 6),
        "stars": rng.choice((1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 4.0, 4.5, 5.0)),
        "review_count": rng.randint(0, 500),
        "is_open": rng.choice((0, 1)),
        "categories": raw_cats,
        "hours": hours,
        "attributes": attributes,
    }, cats


def _user(rng: random.Random, i: int, n_users: int) -> dict:
    since = datetime(2010, 1, 1) + timedelta(days=rng.randint(0, 3600))
    elite = ",".join(str(y) for y in sorted(rng.sample(range(2012, 2021), rng.randint(0, 3))))
    friends = ", ".join(f"u{j:06d}" for j in rng.sample(range(n_users), rng.randint(0, 6)))
    return {
        "user_id": f"u{i:06d}",
        "name": f"User {i}",
        "review_count": rng.randint(0, 300),
        "yelping_since": since.strftime("%Y-%m-%d %H:%M:%S"),
        "useful": rng.randint(0, 50),
        "funny": rng.randint(0, 50),
        "cool": rng.randint(0, 50),
        "fans": rng.randint(0, 20),
        "average_stars": round(rng.uniform(1.0, 5.0), 2),
        "elite": elite,
        "friends": friends,
    }


def _write(path: str, rows: list[dict]) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return os.path.getsize(path)


def generate(root: str, seed: int, n_business: int = 1000, n_users: int = 2000,
             reviews_per_month: int = 3000, tips_per_month: int = 800) -> dict:
    """Write the bronze tree under ``root``; return its description:

    - ``expected``: ``{(year, month): {output: rows}}`` for every output
      ``backfill`` summarizes;
    - ``records`` / ``bytes``: ``{(year, month): n}``, the JSON lines and
      bytes that month's run reads (the unpartitioned business, user and
      checkin files, plus that month's review and tip partitions);
    - ``base_bytes``: bytes of the unpartitioned files.
    """
    rng = random.Random(seed)
    base_bytes = 0

    businesses, bridge_pairs = [], set()
    for i in range(n_business):
        row, cats = _business(rng, i)
        businesses.append(row)
        bridge_pairs.update((row["business_id"], c) for c in cats)
    base_bytes += _write(f"{root}/business/part-0.json", businesses)

    users = [_user(rng, i, n_users) for i in range(n_users)]
    base_bytes += _write(f"{root}/user/part-0.json", users)

    checkins = []
    checkin_ts: list[tuple[str, str]] = []
    outside = ((2020, 12), (2021, 12))
    for b in businesses:
        if rng.random() < 0.3:
            continue
        stamps = [_ts(rng, *rng.choice(MONTHS + outside))
                  for _ in range(rng.randint(1, 12))]
        checkins.append({"business_id": b["business_id"], "date": ", ".join(stamps)})
        checkin_ts.extend((b["business_id"], s) for s in stamps)
    base_bytes += _write(f"{root}/checkin/part-0.json", checkins)
    base_records = n_business + n_users + len(checkins)

    expected, records, month_bytes = {}, {}, {}
    for year, month in MONTHS:
        reviews = []
        for _ in range(reviews_per_month):
            reviews.append({
                "review_id": f"r{rng.getrandbits(48):012x}",
                "user_id": f"u{rng.randrange(n_users):06d}",
                "business_id": f"b{rng.randrange(n_business):06d}",
                "stars": rng.randint(1, 5),
                "useful": rng.randint(0, 5),
                "funny": rng.randint(0, 3),
                "cool": rng.randint(0, 3),
                "text": _text(rng),
                "date": _ts(rng, year, month),
            })
        tips = [{
            "user_id": f"u{rng.randrange(n_users):06d}",
            "business_id": f"b{rng.randrange(n_business):06d}",
            "text": _text(rng),
            "compliment_count": rng.randint(0, 4),
            "date": _ts(rng, year, month),
        } for _ in range(tips_per_month)]
        part = f"year={year}/month={month}/part-0.json"
        month_bytes[(year, month)] = base_bytes + _write(
            f"{root}/review/{part}", reviews) + _write(f"{root}/tip/{part}", tips)
        records[(year, month)] = base_records + len(reviews) + len(tips)

        prefix = f"{year:04d}-{month:02d}-"
        month_checkins = [(b, s) for b, s in checkin_ts if s.startswith(prefix)]
        dates = ({r["date"][:10] for r in reviews}
                 | {s[:10] for _, s in month_checkins})
        expected[(year, month)] = {
            "business": n_business,
            "users": n_users,
            "checkins": len(month_checkins),
            "reviews": len(reviews),
            "tips": len(tips),
            "dim_time": len(dates),
            "dim_business": n_business,
            "dim_user": n_users,
            "bridge_business_category": len(bridge_pairs),
            "fact_review": len(reviews),
            "fact_checkin": len({(b, s[:10]) for b, s in month_checkins}),
        }
    return {"expected": expected, "records": records, "bytes": month_bytes,
            "base_bytes": base_bytes}
