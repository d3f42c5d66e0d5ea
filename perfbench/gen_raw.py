"""Seeded raw-feed generator for the warehouse workloads.

Writes the reference's three CSV feeds (accounts, subscriptions,
support_tickets) with the column order of ``sources.csv.RAW_SCHEMAS``, so
the benchmark measures ``sources.csv.ingest_csv`` exactly as the
reference loader path does.

- ``write_base``: the full-refresh input, ``n_accounts`` accounts with
  ``subs_per_account`` subscriptions each and about two tickets per
  account.
- ``write_batch``: one small append batch. It mixes new accounts with
  their subscriptions, plan changes (upgrades and downgrades) and
  cancellations of existing subscriptions, no-op re-sends of unchanged
  rows, and new tickets. A subscription sent in the previous batch is
  left out of this one: the hard delete the reference's feed can
  express (staging is an append-only arrival log, so the model layer
  sees it as "unchanged").
- ``write_restatement``: one late, backdated correction: subscriptions
  whose start date moves back by a year and whose MRR changes, which
  only a ``reprocess_months`` build covering all history picks up.

Everything is a pure function of ``seed`` and the arguments, through one
``random.Random`` per call. The generator keeps the entity state it
needs across batches in a ``RawState`` the caller owns.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta

ACCOUNTS_HDR = (
    "account_id,account_name,industry,country,signup_date,referral_source,"
    "plan_tier,seats,is_trial,churn_flag"
)
SUBS_HDR = (
    "subscription_id,account_id,start_date,end_date,plan_tier,seats,mrr_amount,"
    "arr_amount,is_trial,upgrade_flag,downgrade_flag,churn_flag,billing_frequency,"
    "auto_renew_flag"
)
TICKETS_HDR = (
    "ticket_id,account_id,submitted_at,closed_at,resolution_time_hours,priority,"
    "first_response_time_minutes,satisfaction_score,escalation_flag"
)

INDUSTRIES = ("DevTools", "FinTech", "EdTech", "HealthTech", "Retail")
COUNTRIES = ("US", "UK", "DE", "FR", "IN", "BR")
REFERRALS = ("organic", "ads", "event", "partner")
TIERS = (("Basic", 20.0), ("Pro", 60.0), ("Enterprise", 250.0))
PRIORITIES = ("low", "medium", "High", "urgent")

# The dim_date spine the workloads build: it covers every generated
# subscription month and every batch timestamp.
VARS = {"dim_date_start_date": "2023-01-01", "dim_date_end_date": "2025-12-31"}
EPOCH = date(2023, 1, 1)
BASE_TS = datetime(2024, 6, 15)


@dataclass
class Sub:
    sub_id: str
    account_id: str
    start: date
    end: date | None
    tier: int
    seats: int
    is_trial: bool
    annual: bool
    upgrade: bool = False
    downgrade: bool = False

    def row(self) -> str:
        name, unit = TIERS[self.tier]
        mrr = 0.0 if self.is_trial else round(unit * self.seats, 2)
        return ",".join(
            (
                self.sub_id,
                self.account_id,
                self.start.isoformat(),
                self.end.isoformat() if self.end else "",
                name,
                str(self.seats),
                repr(mrr),
                repr(round(mrr * 12, 2)),
                _b(self.is_trial),
                _b(self.upgrade),
                _b(self.downgrade),
                _b(self.end is not None),
                "annual" if self.annual else "monthly",
                _b(self.end is None),
            )
        )


@dataclass
class RawState:
    """Entities generated so far; ``write_batch`` extends it in place."""

    accounts: dict[str, str] = field(default_factory=dict)  # id -> csv row
    subs: dict[str, Sub] = field(default_factory=dict)
    n_tickets: int = 0
    last_sent: list[str] = field(default_factory=list)


def _b(v: bool) -> str:
    return "true" if v else "false"


def _write(path: str, header: str, rows: list[str]) -> int:
    data = header + "\n" + "".join(r + "\n" for r in rows)
    with open(path, "w") as f:
        f.write(data)
    return len(data)


def _account(rng: random.Random, i: int, signup: date) -> str:
    tier = rng.randrange(len(TIERS))
    return ",".join(
        (
            f"A-{i:07d}",
            f"Company {i}",
            rng.choice(INDUSTRIES),
            rng.choice(COUNTRIES),
            signup.isoformat(),
            rng.choice(REFERRALS),
            TIERS[tier][0],
            str(rng.randint(1, 50)),
            _b(rng.random() < 0.1),
            "false",
        )
    )


def _new_sub(rng: random.Random, sub_no: int, account_id: str, earliest: date) -> Sub:
    start = earliest + timedelta(days=rng.randrange(0, 120))
    end = None
    if rng.random() < 0.3:
        end = start + timedelta(days=rng.randint(90, 400))
    return Sub(
        sub_id=f"S-{sub_no:08d}",
        account_id=account_id,
        start=start,
        end=end,
        tier=rng.randrange(len(TIERS)),
        seats=rng.randint(1, 40),
        is_trial=rng.random() < 0.06,
        annual=rng.random() < 0.5,
    )


def _ticket(rng: random.Random, n: int, account_id: str, day: date) -> str:
    submitted = datetime(day.year, day.month, day.day) + timedelta(minutes=rng.randrange(1440))
    closed = submitted + timedelta(hours=rng.randint(1, 72)) if rng.random() < 0.8 else None
    hours = (closed - submitted).total_seconds() / 3600 if closed else -1.0
    return ",".join(
        (
            f"T-{n:08d}",
            account_id,
            submitted.strftime("%Y-%m-%d %H:%M:%S"),
            closed.strftime("%Y-%m-%d %H:%M:%S") if closed else "",
            repr(hours),
            rng.choice(PRIORITIES),
            repr(float(rng.randint(-5, 600))),
            repr(float(rng.randint(1, 5))) if rng.random() < 0.7 else "",
            _b(rng.random() < 0.1),
        )
    )


def write_base(out_dir: str, seed: int, n_accounts: int, subs_per_account: int) -> tuple[RawState, int]:
    """The full-refresh input. Returns the state and the CSV bytes written."""
    rng = random.Random(f"base:{seed}")
    st = RawState()
    os.makedirs(out_dir, exist_ok=True)
    acc_rows, sub_rows, tix = [], [], []
    for i in range(n_accounts):
        signup = EPOCH + timedelta(days=rng.randrange(540))
        row = _account(rng, i, signup)
        aid = f"A-{i:07d}"
        st.accounts[aid] = row
        acc_rows.append(row)
        for _ in range(subs_per_account):
            s = _new_sub(rng, len(st.subs), aid, signup)
            st.subs[s.sub_id] = s
            sub_rows.append(s.row())
        for _ in range(2):
            tix.append(_ticket(rng, st.n_tickets, aid, signup + timedelta(days=rng.randrange(300))))
            st.n_tickets += 1
    n = _write(os.path.join(out_dir, "accounts.csv"), ACCOUNTS_HDR, acc_rows)
    n += _write(os.path.join(out_dir, "subscriptions.csv"), SUBS_HDR, sub_rows)
    n += _write(os.path.join(out_dir, "support_tickets.csv"), TICKETS_HDR, tix)
    return st, n


def batch_ts(k: int) -> datetime:
    """Ingest timestamp of append batch ``k`` (0-based): one per week
    after the base load, so every batch has a fresh high-watermark."""
    return BASE_TS + timedelta(days=7 * (k + 1))


def write_batch(
    out_dir: str, seed: int, k: int, st: RawState, n_new: int, n_changes: int
) -> int:
    """Append batch ``k``: ``n_new`` new accounts (two subscriptions
    each), ``n_changes`` plan changes and as many cancellations and
    no-op re-sends. Returns the CSV bytes written."""
    rng = random.Random(f"batch:{seed}:{k}")
    os.makedirs(out_dir, exist_ok=True)
    day = batch_ts(k).date()
    acc_rows, sub_rows, tix = [], [], []
    for _ in range(n_new):
        i = len(st.accounts)
        aid = f"A-{i:07d}"
        row = _account(rng, i, day)
        st.accounts[aid] = row
        acc_rows.append(row)
        for _ in range(2):
            s = _new_sub(rng, len(st.subs), aid, day)
            st.subs[s.sub_id] = s
            sub_rows.append(s.row())
    sent = {}
    open_ids = sorted(s for s, v in st.subs.items() if v.end is None and s not in st.last_sent)
    picks = rng.sample(open_ids, min(len(open_ids), 3 * n_changes))
    for sid in picks[:n_changes]:  # plan change: tier or seats move
        s = st.subs[sid]
        up = rng.random() < 0.6
        s.seats = max(1, s.seats + (rng.randint(1, 5) if up else -rng.randint(1, 5)))
        s.upgrade, s.downgrade = up, not up
        sent[sid] = s
    for sid in picks[n_changes : 2 * n_changes]:  # cancellation
        s = st.subs[sid]
        s.end = day + timedelta(days=rng.randint(1, 20))
        sent[sid] = s
    for sid in picks[2 * n_changes :]:  # no-op re-send, hash unchanged
        sent[sid] = st.subs[sid]
    # hard delete: the previous batch's subscriptions are not re-sent
    sub_rows.extend(s.row() for s in sent.values())
    ids = sorted(st.accounts)
    acc_rows.extend(st.accounts[a] for a in rng.sample(ids, min(len(ids), n_changes)))
    for _ in range(n_changes):
        tix.append(_ticket(rng, st.n_tickets, rng.choice(ids), day))
        st.n_tickets += 1
    st.last_sent = list(sent)
    n = _write(os.path.join(out_dir, "accounts.csv"), ACCOUNTS_HDR, acc_rows)
    n += _write(os.path.join(out_dir, "subscriptions.csv"), SUBS_HDR, sub_rows)
    n += _write(os.path.join(out_dir, "support_tickets.csv"), TICKETS_HDR, tix)
    return n


def write_restatement(out_dir: str, seed: int, st: RawState, n_rows: int) -> int:
    """A late backdated correction: ``n_rows`` subscriptions move their
    start a year back and change seats. Returns the CSV bytes written."""
    rng = random.Random(f"restate:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    ids = sorted(st.subs)
    rows = []
    for sid in rng.sample(ids, min(len(ids), n_rows)):
        s = st.subs[sid]
        s.start = max(EPOCH, s.start - timedelta(days=365))
        s.seats += 1
        s.upgrade, s.downgrade = True, False
        rows.append(s.row())
    n = _write(os.path.join(out_dir, "subscriptions.csv"), SUBS_HDR, rows)
    n += _write(os.path.join(out_dir, "accounts.csv"), ACCOUNTS_HDR, [])
    n += _write(os.path.join(out_dir, "support_tickets.csv"), TICKETS_HDR, [])
    return n
