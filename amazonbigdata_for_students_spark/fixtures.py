"""Seeded reference-domain fixture generator (FIXTURES.md §A).

Reimplements the *semantics* of the reference workload generator —
not its code — so the bot-detection / popularity / spam pipelines can be
validated against labeled ground truth:

  * items dim: ids 1000.., 13 categories (reference: log-generator/
    generator.py:80-84,110-114)
  * users dim: unique IPv4s, device types, "NULL" device sentinel, is_bot
    label with P=0.1 (generator.py:71-77,100-107)
  * view events: per non-bot user n~U(100,1000) events evenly spaced over
    one hour; bots step ~16ms with P=0.85 (else the even step) — a
    ~200-2000x rate gap that detection must recover exactly
    (generator.py:117-154)
  * review events: views + title/text/stars over a bundled spam/ham
    corpus (generator.py:178-193; corpus bundled in-repo, no downloads)

Everything is deterministic under an explicit seed. Scale is test-sized —
this module exists to produce *labeled truth*, not volume; volume comes
from /root/testdata.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

# Bundled seeded corpus: SMS-style spam/ham lines (original text, written
# for this repo — the reference uses the UCI SMS corpus at runtime, which
# tests must not download; FIXTURES.md §A4).
SPAM_LINES = [
    "winner! claim your free prize now, text 80082 to collect your reward cash",
    "urgent! your account was selected for a $1000 gift card, click the link now",
    "free entry in a weekly draw, text win to 85555 and claim instant bonus",
    "congratulations you won a guaranteed holiday, call now on 09061701461",
    "cash prize waiting! reply yes to receive your free voucher today only",
    "you have been chosen for a free ringtone, send tone to 87121 now",
    "exclusive deal: lowest loan rates guaranteed, apply today, limited offer",
    "final notice: your mobile number won a lottery payout, call to redeem",
    "hot singles in your area, text chat to 86688, premium rate applies",
    "double your airtime free when you top up today, offer ends tonight",
]
HAM_LINES = [
    "hey are we still meeting for lunch at noon tomorrow",
    "can you pick up milk on the way home please",
    "the meeting moved to three pm, see you in the main room",
    "thanks for the notes, they really helped with the exam",
    "i will be ten minutes late, traffic is terrible today",
    "did you watch the game last night, what a finish",
    "mom says dinner is at seven, bring your laundry",
    "the report is done, i sent it to your inbox this morning",
    "happy birthday! hope you have a wonderful day with family",
    "let me know when you land, have a safe flight",
]

DEVICE_TYPES = ["mobile:ios", "mobile:android", "other"]


@dataclass
class User:
    user_ip: str
    device_type: str
    device_id: str  # "NULL" sentinel when device_type == "other"
    is_bot: bool


@dataclass
class Fixture:
    items: list[dict] = field(default_factory=list)
    users: list[User] = field(default_factory=list)
    views: list[dict] = field(default_factory=list)
    reviews: list[dict] = field(default_factory=list)

    @property
    def bot_ips(self) -> set[str]:
        return {u.user_ip for u in self.users if u.is_bot}


def _iso(ts: datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def generate(
    seed: int = 42,
    n_items: int = 100,
    n_users: int = 50,
    bot_probability: float = 0.1,
    window_start: datetime = datetime(2024, 1, 2, 3, 0, 0),
    window_seconds: int = 3600,
    min_lines: int = 100,
    max_lines: int = 1000,
    bot_step_s: float = 0.016,
    bot_step_probability: float = 0.85,
    review_fraction: float = 0.05,
) -> Fixture:
    rng = random.Random(seed)
    fx = Fixture()

    for i in range(n_items):
        item_id = 1000 + i
        fx.items.append(
            {
                "item_id": str(item_id),
                "title": f"item #{item_id}",
                "description": f"description of item {item_id}",
                "category": str(rng.randint(1, 13)),
            }
        )

    seen_ips: set[str] = set()
    while len(fx.users) < n_users:
        ip = ".".join(
            str(rng.randint(lo, hi))
            for lo, hi in ((11, 191), (1, 223), (1, 254), (1, 254))
        )
        if ip in seen_ips:
            continue
        seen_ips.add(ip)
        device_type = rng.choice(DEVICE_TYPES)
        device_id = (
            "NULL" if device_type == "other" else str(rng.randint(100000, 1000000))
        )
        fx.users.append(
            User(ip, device_type, device_id, rng.random() < bot_probability)
        )
    # Guarantee at least one bot and one human so detection tests are
    # two-sided regardless of seed.
    if not any(u.is_bot for u in fx.users):
        fx.users[0].is_bot = True
    if all(u.is_bot for u in fx.users):
        fx.users[-1].is_bot = False

    window_end = window_start + timedelta(seconds=window_seconds)
    corpus = [(t, True) for t in SPAM_LINES] + [(t, False) for t in HAM_LINES]
    for user in fx.users:
        n_lines = rng.randint(min_lines, max_lines)
        even_step = window_seconds / n_lines
        ts = window_start
        while ts < window_end:
            record = {
                "item_id": rng.choice(fx.items)["item_id"],
                "ts": _iso(ts),
                "device_type": user.device_type,
                "device_id": user.device_id,
                "user_ip": user.user_ip,
            }
            fx.views.append(record)
            if rng.random() < review_fraction:
                text, is_spam = rng.choice(corpus)
                toks = text.split()
                fx.reviews.append(
                    {
                        **record,
                        "review_title": " ".join(toks[:3]),
                        "review_text": " ".join(toks[3:]),
                        "review_stars": rng.randint(0, 5),
                        "_is_spam_truth": is_spam,  # ground-truth side channel
                    }
                )
            if user.is_bot and rng.random() < bot_step_probability:
                ts += timedelta(seconds=bot_step_s)
            else:
                ts += timedelta(seconds=even_step)
    fx.views.sort(key=lambda r: r["ts"])
    fx.reviews.sort(key=lambda r: r["ts"])
    return fx


def views_df(spark, fx: Fixture):
    from . import schemas

    return spark.createDataFrame(
        [tuple(r[f.name] for f in schemas.VIEW_EVENT_RAW.fields) for r in fx.views],
        schemas.VIEW_EVENT_RAW,
    )


def reviews_df(spark, fx: Fixture):
    from . import schemas

    return spark.createDataFrame(
        [
            tuple(r[f.name] for f in schemas.REVIEW_EVENT_RAW.fields)
            for r in fx.reviews
        ],
        schemas.REVIEW_EVENT_RAW,
    )


def items_df(spark, fx: Fixture):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i["item_id"], i["title"], i["description"], i["category"]) for i in fx.items],
        "item_id string, title string, description string, category string",
    )
    return df.select(
        F.col("item_id").cast("long"),
        "title",
        "description",
        F.col("category").cast("int"),
    )
