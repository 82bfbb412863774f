"""Seeded input generation. Pure Python, no Spark: the same seed always
gives the same payloads, schedules and row formulas."""

from __future__ import annotations

import random

SIZES = (20, 200, 2000)
COUNTRIES = ("TR", "US", "DE", "FR", "BR", "IN")
DEPARTMENTS = ("Sales", "Engineering", "Support", "Finance", "Legal")
TITLES = ("Manager", "Engineer", "Analyst", "Director", "Intern")


def users(rng: random.Random, n: int) -> list[dict]:
    """Inline ``Users`` rows of one request (the reference's ``List<User>``)."""
    return [
        {
            "Id": i,
            "Name": f"user{rng.randrange(10**6):06d}",
            "Age": rng.randint(18, 70),
            "Country": rng.choice(COUNTRIES),
            "Department": rng.choice(DEPARTMENTS),
            "Title": rng.choice(TITLES),
            "Salary": round(rng.uniform(20_000, 200_000), 2),
            "IsActive": rng.random() < 0.7,
        }
        for i in range(n)
    ]


def request_shapes(rng: random.Random) -> dict[str, dict]:
    """The six valid request shapes (without rows) plus the invalid one.
    Thresholds are drawn from the seed so results differ across seeds."""
    age = rng.randint(25, 45)
    salary = rng.randint(40_000, 120_000)
    country = rng.choice(COUNTRIES)
    dept = rng.choice(DEPARTMENTS)
    return {
        "flat_and": {
            "Rule": {
                "Name": "flat-and",
                "Conditions": {
                    "LogicalOperator": "AND",
                    "Conditions": [
                        {"Property": "Age", "Operator": "GreaterThan", "Value": age},
                        {"Property": "IsActive", "Operator": "Equal", "Value": True},
                        {"Property": "Salary", "Operator": "GreaterThanOrEqual", "Value": salary},
                    ],
                },
            }
        },
        "nested_or": {
            "Rule": {
                "Name": "nested-or-negated",
                "Conditions": {
                    "LogicalOperator": "OR",
                    "Conditions": [
                        {"Property": "Country", "Operator": "Equal", "Value": country}
                    ],
                    "Groups": [
                        {
                            "LogicalOperator": "AND",
                            "Negate": True,
                            "Conditions": [
                                {"Property": "Department", "Operator": "NotEqual", "Value": dept},
                                {"Property": "Age", "Operator": "GreaterThanOrEqual", "Value": age},
                            ],
                        }
                    ],
                },
            }
        },
        "argmax": {
            "Rule": {
                "Name": "top-salary-per-department",
                "Conditions": {
                    "Conditions": [
                        {"Property": "Age", "Operator": "GreaterThan", "Value": age - 10}
                    ]
                },
                "GroupBy": ["Department"],
                "Aggregation": {"AggregateProperty": "Salary", "AggregateFunction": "Max"},
            }
        },
        "count": {
            "Rule": {
                "Name": "active-per-country",
                "Conditions": {
                    "Conditions": [
                        {"Property": "IsActive", "Operator": "Equal", "Value": True}
                    ]
                },
                "GroupBy": ["Country"],
                "Aggregation": {"AggregateFunction": "Count"},
            }
        },
        "union": {
            "Rules": [
                {
                    "Name": "young",
                    "Conditions": {"Conditions": [
                        {"Property": "Age", "Operator": "LessThan", "Value": age - 5}
                    ]},
                },
                {
                    "Name": "rich-in-country",
                    "Conditions": {"Conditions": [
                        {"Property": "Country", "Operator": "Equal", "Value": country},
                        {"Property": "Salary", "Operator": "GreaterThan", "Value": salary},
                    ]},
                },
                {
                    "Name": "managers",
                    "Conditions": {"Conditions": [
                        {"Property": "Title", "Operator": "Equal", "Value": "Manager"}
                    ]},
                },
            ]
        },
        "dynamic": {
            "Rule": {
                "Name": "country-from-caller",
                "Conditions": {
                    "Conditions": [
                        {"Property": "Country", "Operator": "DynamicEqual"},
                        {"Property": "Age", "Operator": "LessThanOrEqual", "Value": age + 10},
                    ]
                },
            },
            "ExternalParams": {"Country": country},
        },
        "invalid": {
            "Rule": {
                "Name": "unknown-property",
                "Conditions": {"Conditions": [
                    {"Property": "NoSuchField", "Operator": "Equal", "Value": 1}
                ]},
            }
        },
    }


def serve_slots(seed: int) -> list[tuple[str, int, dict]]:
    """The rule_serve rotation: every valid shape at every size, plus the
    invalid slot, in a seed-fixed order. Entries are (shape, size, payload)."""
    rng = random.Random(seed)
    shapes = request_shapes(rng)
    rows = {n: users(rng, n) for n in SIZES}
    slots = [
        (shape, n, {**body, "Users": rows[n]})
        for shape, body in shapes.items()
        if shape != "invalid"
        for n in SIZES
    ]
    slots.append(("invalid", SIZES[0], {**shapes["invalid"], "Users": rows[SIZES[0]]}))
    rng.shuffle(slots)
    return slots


# -- vt_dml event rows ------------------------------------------------------
# Each column is an integer formula of (event_id, ver, seed), evaluated the
# same way by Spark (to build the input DataFrames on the JVM side) and by
# Python (to track the table's expected state).
EVENT_TYPES = ("click", "view", "buy")
USERS = 500


def event_row(event_id: int, ver: int, seed: int) -> tuple:
    user = (event_id * 7919 + ver * 104729 + seed * 15485863) % USERS
    etype = EVENT_TYPES[(event_id * 31 + ver * 17 + seed) % 3]
    value = ((event_id * 2654435761 + ver * 40503 + seed * 97) % 100000) / 100.0
    return (event_id, user, etype, value, ver)


def vt_update_user(seed: int, cycle: int) -> int:
    """The user whose rows one vt_dml cycle updates."""
    return random.Random(seed * 1_000_003 + cycle).randrange(USERS)
