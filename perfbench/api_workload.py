"""The ``api_session`` workload: a fixed mix of requests through RehiveAPI.

Seeded reference-domain state (a referral forest with one chain deeper
than the 10-level commission cap, gift codes, ledger, withdrawals,
notifications) goes through two phases:

1. a fixed stream of requests (``STREAM``; one client, closed loop) over
   ``RehiveAPI``, whose fact tables hold the state after a seeded
   redemption history.  The mix is chosen for this benchmark, not taken
   from a record of the reference's requests (the repository holds none).
   The seed picks the users, amounts and codes; the kinds and their order
   are fixed, so the growing write lineage is the same length in every run.
   The requests are the workload's operations;
2. traced runs only: the same redemption history run set-at-a-time through
   ``pipelines.redemption.process_redemptions`` into parquet fact tables
   through ``io.append_returning`` / ``io.append_facts`` (the backfill).

Untraced runs write the post-history fact tables straight from the model,
so the end-to-end figures are the request stream's alone; the backfill's
20 s would otherwise make a run half as long again.

``Model`` keeps the reference's rules in plain Python ``Decimal``.  Outside
the timed regions the API's derived state before the stream (the untimed
warm-up) and after it (every user's balance, package and notification
count, every withdrawal), every response, and the fact tables the
backfill wrote are checked against it.  Refused requests (404, 400) are
correct outcomes when the model expects them.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from datetime import datetime, timedelta
from decimal import ROUND_HALF_UP, Decimal

from harness import WORK, Ops, Session, Tracer, median

AS_OF = datetime(2024, 1, 21)
T0 = datetime(2024, 1, 1)
MAX_LEVELS = 10
CENT = Decimal("0.01")

# id, name, price, passive rate, direct rate (the reference's package shape)
PACKAGES = [
    (1, "starter", "100.00", "0.0500", "0.10"),
    (2, "silver", "249.99", "0.0333", "0.15"),
    (3, "gold", "499.95", "0.0250", "0.20"),
    (4, "platinum", "1000.01", "0.0125", "0.25"),
    (5, "diamond", "2499.33", "0.0077", "0.33"),
]
N_USERS = 48
N_CODES = 24
N_BACKFILL = 10
SETUP_REPEATS = 3

READS = ("get_user", "get_notifications", "get_commission_history")
REDEEM = ("redeem_gift_code",)
# The request stream: kinds in a fixed order (the seed picks arguments).
# The counts are chosen, not measured:
# - three ``add_commission`` (2nd, 5th and 7th request), so the union
#   lineage each write grows shows as writes that slow down;
# - two ``request_withdrawal``: one granted, and ``request_withdrawal_over``,
#   more than the balance (a 400);
# - one each of the reads ``get_user``, ``get_notifications`` and
#   ``get_commission_history``, over the users, notification and ledger views.
STREAM = (
    "get_user",
    "add_commission",
    "request_withdrawal",
    "get_notifications",
    "add_commission",
    "request_withdrawal_over",
    "add_commission",
    "get_commission_history",
)
# Sent by traced runs only, after the stream: one ``redeem_gift_code`` of an
# already-redeemed code (a 404), which still runs the redemption plan's
# per-output actions for 10-14 s, nearly as long as the whole stream.  A
# successful one costs about 40 s, so the successful redemptions are in the
# history the state starts from.
TRACED_ONLY = ("redeem_gift_code",)


def _money(x) -> Decimal:
    return Decimal(x).quantize(CENT, rounding=ROUND_HALF_UP)


def _ts(minutes: int) -> datetime:
    return T0 + timedelta(minutes=minutes)


class Model:
    """The reference's rules over plain Python state: balance = Σ ledger −
    Σ approved withdrawals; direct commission = price × direct rate to the
    code's creator; passive = price × passive rate to each of up to 10
    uplines, both rounded half-up to cents; one inbound referral edge per
    user; refusals as the reference's 4xx codes."""

    def __init__(self, rng: random.Random):
        self.pkg = {p[0]: (Decimal(p[2]), Decimal(p[3]), Decimal(p[4])) for p in PACKAGES}
        self.users: dict[str, dict] = {}
        self.parent: dict[str, str] = {}
        self.edges: list[tuple[str, str, datetime]] = []
        ids = [f"u{i:03d}" for i in range(N_USERS)]
        depth = rng.randint(11, 13)  # one chain deeper than the cap
        for i, uid in enumerate(ids):
            self.users[uid] = {
                "package_id": rng.choice([None, 1, 2, 3, 4, 5]),
                "referral_code": f"R{i:03d}",
                "expires": AS_OF + timedelta(days=rng.choice([-9, -2, 3, 12])),
                "created_at": _ts(i),
            }
            if 0 < i <= depth:
                self._edge(ids[i - 1], uid, _ts(100 + i))
            elif depth < i < N_USERS - 6:  # the last six start isolated
                self._edge(rng.choice(ids[:i]), uid, _ts(100 + i))
        self.ids = ids
        self.deep_tip = ids[depth]
        self.codes: dict[str, dict] = {}
        for c in range(1, N_CODES + 1):
            self.codes[f"GC{c:04d}"] = {
                "id": c,
                "package_id": rng.randint(1, 5),
                "created_by": rng.choice(ids),
                "redeemed": c <= 2,  # imported as already redeemed
                "created_at": _ts(200 + c),
            }
        self.ledger: list[dict] = []
        for i in range(1, 41):
            self._credit(rng.choice(ids[: N_USERS // 2]), _money(rng.randint(100, 5000) / 100), "passive", _ts(300 + i))
        self.withdrawals: dict[int, dict] = {}
        for i in range(1, 7):
            self.withdrawals[i] = {
                "user_id": rng.choice(ids[: N_USERS // 2]),
                "amount": _money(rng.randint(100, 900) / 100),
                "status": ["approved", "pending", "rejected"][i % 3],
                "created_at": _ts(400 + i),
            }
        self.notifications: dict[int, dict] = {
            i: {"user_id": rng.choice(ids), "is_read": i % 2 == 0, "created_at": _ts(600 + i)}
            for i in range(1, 31)
        }
        self.accepted: list[tuple] = []  # redemptions_accepted rows

    # -- rules --------------------------------------------------------------
    def _edge(self, parent: str, child: str, ts: datetime) -> None:
        self.parent[child] = parent
        self.edges.append((parent, child, ts))

    def _credit(self, uid: str, amount: Decimal, kind: str, ts: datetime,
                source: str | None = None, code_id: int | None = None) -> None:
        self.ledger.append({"user_id": uid, "amount": amount, "type": kind, "created_at": ts,
                            "source_user_id": source, "gift_code_id": code_id})

    def _notify(self, uid: str, ts: datetime) -> None:
        self.notifications[max(self.notifications) + 1] = {
            "user_id": uid, "is_read": False, "created_at": ts,
        }

    def balance(self, uid: str) -> Decimal:
        credit = sum((r["amount"] for r in self.ledger if r["user_id"] == uid), Decimal(0))
        debit = sum(
            (w["amount"] for w in self.withdrawals.values()
             if w["user_id"] == uid and w["status"] == "approved"),
            Decimal(0),
        )
        return credit - debit

    def uplines(self, uid: str) -> list[str]:
        out = []
        while uid in self.parent and len(out) < MAX_LEVELS:
            uid = self.parent[uid]
            out.append(uid)
        return out

    def redeem(self, code: str, uid: str, referral_code: str | None, ts: datetime,
               event_id: int = 0) -> int:
        """200, or the reference's refusal code (404 invalid or redeemed,
        400 self-redemption)."""
        c = self.codes.get(code)
        if c is None or c["redeemed"]:
            return 404
        if c["created_by"] == uid:
            return 400
        c["redeemed"] = True
        self.accepted.append((event_id, c["id"], code, uid, c["package_id"], ts))
        self.users[uid]["package_id"] = c["package_id"]
        if referral_code and uid not in self.parent:
            ref = next((u for u, r in self.users.items() if r["referral_code"] == referral_code), None)
            if ref is not None and ref != uid:
                self._edge(ref, uid, ts)
        price, passive, direct = self.pkg[c["package_id"]]
        # the notifications a redemption fans out are not modelled: the
        # history's fact tables do not hold them, and the traced run's
        # redemption is refused
        self._credit(c["created_by"], _money(price * direct), "direct", ts, uid, c["id"])
        for a in self.uplines(uid):
            self._credit(a, _money(price * passive), "passive", ts, uid, c["id"])
        return 200


# ---------------------------------------------------------------------------
# engine-side state
# ---------------------------------------------------------------------------


FACTS = ("commissions", "referrals", "redemptions_accepted")


def _rows(m: Model) -> dict[str, list[tuple]]:
    """The seeded state as rows of the reference's tables."""
    users = [
        (u, f"{u}@example.com", f"User {u}", None, "DE", r["package_id"], r["referral_code"],
         "approved", r["created_at"], Decimal("0.00"), "inactive", r["expires"], None)
        for u, r in m.users.items()
    ]
    codes = [
        (c["id"], code, c["package_id"], c["created_by"], c["redeemed"],
         m.ids[-1] if c["redeemed"] else None, _ts(250) if c["redeemed"] else None,
         c["created_at"])
        for code, c in m.codes.items()
    ]
    return {
        "packages": [
            (i, n, Decimal(p), Decimal(pr), Decimal(dr), None, Decimal("0.00"), None, T0)
            for i, n, p, pr, dr in PACKAGES
        ],
        "users": users,
        "referrals": [(i + 1, p, c, ts) for i, (p, c, ts) in enumerate(m.edges)],
        "gift_codes": codes,
        "commissions": [
            (i + 1, r["user_id"], r["amount"], r["type"], r["source_user_id"],
             r["gift_code_id"], r["created_at"])
            for i, r in enumerate(m.ledger)
        ],
        "commission_withdrawals": [
            (i, w["user_id"], w["amount"], w["status"], "bank_transfer", None, None,
             w["created_at"], None if w["status"] == "pending" else w["created_at"])
            for i, w in m.withdrawals.items()
        ],
        "notifications": [
            (i, n["user_id"], f"t{i}", f"m{i}", "info", n["is_read"], n["created_at"])
            for i, n in m.notifications.items()
        ],
        "company_profits": [],
        "redemptions_accepted": list(m.accepted),
    }


def _arrow_type(t):
    import pyarrow as pa
    from pyspark.sql import types as T

    if isinstance(t, T.DecimalType):
        return pa.decimal128(t.precision, t.scale)
    if isinstance(t, T.TimestampType):
        return pa.timestamp("us", tz="UTC")
    return {T.LongType: pa.int64(), T.StringType: pa.string(), T.BooleanType: pa.bool_()}[type(t)]


def _state(spark, rows: dict[str, list[tuple]], work: str) -> dict:
    """The API's tables: fact tables as parquet files (written with pyarrow,
    so state generation runs no Spark job), the rest as in-session frames."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from r_e_hive__spark.api import _LOG_SCHEMAS
    from r_e_hive__spark.schemas import REHIVE_SCHEMAS

    frames = {}
    for name, table_rows in rows.items():
        schema = REHIVE_SCHEMAS.get(name) or _LOG_SCHEMAS[name]
        if name not in FACTS:
            frames[name] = spark.createDataFrame(table_rows, schema)
            continue
        cols = list(zip(*table_rows)) if table_rows else [[] for _ in schema.fields]
        table = pa.table(
            {f.name: pa.array(list(c), _arrow_type(f.dataType)) for f, c in zip(schema.fields, cols)}
        )
        os.makedirs(os.path.join(work, name))
        pq.write_table(table, os.path.join(work, name, "part-0.parquet"))
        frames[name] = spark.read.parquet(os.path.join(work, name))
    return frames


def _backfill_events(m: Model, rng: random.Random) -> list[tuple]:
    """Seeded redemption history: valid codes redeemed by non-creators
    (the deepest chain's tip among them, so the cap binds), some with a
    referral code for a user still without an upline, plus one invalid,
    one already-redeemed and one self-redemption attempt."""
    free = [c for c, v in m.codes.items() if not v["redeemed"]]
    rng.shuffle(free)
    isolated = [u for u in m.ids if u not in m.parent and u != m.ids[0]]
    events = []
    for k, code in enumerate(free[: N_BACKFILL - 3]):
        others = [u for u in m.ids if u != m.codes[code]["created_by"]]
        ref = None
        if k == 0 and m.deep_tip in others:
            uid = m.deep_tip
        elif k in (1, 2) and isolated[-1] in others:
            # a user without an upline joins the forest through a referral
            uid = isolated.pop()
            ref = m.users[rng.choice(m.ids[:10])]["referral_code"]
        else:
            uid = rng.choice(others)
        events.append((code, uid, ref))
    events.append(("NOPE0000", m.ids[3], None))
    events.append((next(c for c, v in m.codes.items() if v["redeemed"]), m.ids[4], None))
    self_code = free[N_BACKFILL]
    events.append((self_code, m.codes[self_code]["created_by"], None))
    return [(i + 1, c, u, r, _ts(700 + i)) for i, (c, u, r) in enumerate(events)]


def _backfill(spark, frames: dict, events: list, work: str, layer: dict, tracer: Tracer) -> dict:
    """Run the redemption history set-at-a-time and write every output to
    parquet fact tables; returns the API's tables read back from them."""
    from pyspark.sql import functions as F

    from r_e_hive__spark import io
    from r_e_hive__spark.pipelines.redemption import process_redemptions
    from r_e_hive__spark.schemas import REHIVE_SCHEMAS as S

    paths = {n: os.path.join(work, n) for n in FACTS}
    before = _bytes(work)

    ev = spark.createDataFrame(events, S["redemption_events"])
    with tracer.span("pipelines.process_redemptions"):
        t0 = time.perf_counter()
        out = process_redemptions(
            ev, frames["gift_codes"], frames["users"], frames["packages"], frames["referrals"]
        )
        layer["pipelines.process_redemptions_s"] = time.perf_counter() - t0
    appends = {
        "commissions": (
            out.commission_ledger.select(
                "user_id", "amount", "type", "source_user_id", "gift_code_id", "created_at"
            ),
            ["created_at", "user_id", "type", "amount"],
        ),
        "referrals": (
            out.new_referrals.select("referrer_id", "referred_id", "created_at"),
            ["created_at", "referred_id"],
        ),
    }
    t0 = time.perf_counter()
    for name, (rows, order) in appends.items():
        with tracer.span(f"io.append_returning.{name}"):
            io.append_returning(spark, rows, paths[name], "id", [F.asc(c) for c in order])
    with tracer.span("io.append_facts.redemptions_accepted"):
        io.append_facts(
            out.accepted.select("event_id", "gift_code_id", "code", "user_id", "package_id", "event_ts"),
            paths["redemptions_accepted"],
        )
    layer["io.append_returning_s"] = time.perf_counter() - t0
    layer["io.bytes_written"] = _bytes(work) - before

    tables = dict(frames)
    for n in FACTS:
        tables[n] = spark.read.parquet(paths[n])
    return tables


def _facts(rows: dict[str, list[tuple]]) -> tuple:
    """(per-user ledger totals, referral edges, accepted redemptions) of
    fact-table rows: what the backfill must leave behind."""
    totals: dict[str, Decimal] = {}
    for r in rows["commissions"]:
        totals[r[1]] = totals.get(r[1], Decimal(0)) + r[2]
    edges = sorted((r[1], r[2]) for r in rows["referrals"])
    accepted = sorted((r[2], r[3]) for r in rows["redemptions_accepted"])
    return totals, edges, accepted


def _check_backfill(want: tuple, work: str) -> list[str]:
    """The fact tables as written (read back with pyarrow, not Spark)
    against the model's: per-user ledger totals (direct and per-level
    passive commissions, 10-level cap), the referral edges and the
    accepted redemptions."""
    import pyarrow.parquet as pq

    def read(name, *cols):
        return pq.read_table(os.path.join(work, name), columns=list(cols)).to_pylist()

    problems = []
    want_totals, want_edges, want_acc = want
    got: dict[str, Decimal] = {}
    for r in read("commissions", "user_id", "amount"):
        got[r["user_id"]] = got.get(r["user_id"], Decimal(0)) + r["amount"]
    if got != want_totals:
        bad = sorted(u for u in set(got) | set(want_totals) if got.get(u) != want_totals.get(u))
        problems.append(f"backfill ledger totals differ for {bad}")
    edges = sorted((r["referrer_id"], r["referred_id"]) for r in read("referrals", "referrer_id", "referred_id"))
    if edges != want_edges:
        problems.append("backfill referral edges differ")
    acc = sorted((r["code"], r["user_id"]) for r in read("redemptions_accepted", "code", "user_id"))
    if acc != want_acc:
        problems.append(f"accepted redemptions {acc} != {want_acc}")
    return problems


def _bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


# ---------------------------------------------------------------------------
# the request stream
# ---------------------------------------------------------------------------


def _plan(m: Model, rng: random.Random, kinds) -> list[tuple[str, tuple, object]]:
    """(endpoint, args, expectation) for every request of ``kinds``, drawn
    from the seed; the model is advanced as the reference would be."""
    reqs = []
    minute = [800]

    def ts():
        minute[0] += 1
        return _ts(minute[0]) + timedelta(days=18)  # the stream runs on Jan 19

    # users whose responses are never empty, so a request's cost does not
    # depend on whether the seed drew a user with no rows
    active = [u for u in m.ids if m.balance(u) > 5]
    for kind in kinds:
        u = rng.choice(active)
        if kind == "add_commission":
            amt = _money(rng.randint(100, 9999) / 100)
            t = ts()
            m._credit(u, amt, "bonus", t)
            m._notify(u, t)
            reqs.append((kind, (u, str(amt), "bonus", t), (200, None)))
        elif kind == "request_withdrawal":
            amt = _money(m.balance(u) / 2)
            wid = max(m.withdrawals) + 1
            m.withdrawals[wid] = {"user_id": u, "amount": amt, "status": "pending", "created_at": ts()}
            row = (wid, u, amt, "pending")
            reqs.append((kind, (u, str(amt), m.withdrawals[wid]["created_at"]), (200, row)))
        elif kind == "request_withdrawal_over":
            amt = m.balance(u) + Decimal("1000.00")
            reqs.append(("request_withdrawal", (u, str(amt), ts()), (400, None)))
        elif kind == "redeem_gift_code":
            code = next(c for c, v in m.codes.items() if v["redeemed"])
            t = ts()
            reqs.append((kind, (code, u, t), (m.redeem(code, u, None, t), None)))
        elif kind == "get_user":
            reqs.append((kind, (u,), (m.balance(u), m.users[u]["package_id"])))
        elif kind == "get_commission_history":
            amounts = sorted(r["amount"] for r in m.ledger if r["user_id"] == u)
            reqs.append((kind, (u,), amounts))
        elif kind == "get_notifications":
            u = rng.choice(sorted({x["user_id"] for x in m.notifications.values()}))
            n = sum(1 for x in m.notifications.values() if x["user_id"] == u)
            reqs.append((kind, (u,), n))
    return reqs


def _check(kind: str, expect, status: int, rows) -> str | None:
    """None when the response matches the model's expectation."""
    if kind in READS:
        if status != 200:
            return f"status {status}"
        if kind == "get_user":
            got = (rows[0]["commission_balance"], rows[0]["package_id"])
        elif kind == "get_commission_history":
            got = sorted(r["amount"] for r in rows)
        else:
            got = len(rows)
        return None if got == expect else f"{got!r} != {expect!r}"
    want_status, want_row = expect
    if status != want_status:
        return f"status {status} != {want_status}"
    if want_row is not None:  # the inserted row the write returns
        got = [(r["id"], r["user_id"], r["amount"], r["status"]) for r in rows]
        if got != [want_row]:
            return f"returned {got!r} != {[want_row]!r}"
    return None


def _check_final(m: Model, api) -> list[str]:
    """The API's derived state after the stream against the model: every
    user's balance and package, every withdrawal (owner, amount, state)
    and every user's notification count."""

    def differ(what, got, want):
        if got == want:
            return []
        bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
        return [f"{what} differ for {bad}"]

    users = api.users_current().select("id", "commission_balance", "package_id").collect()
    notes = api.notifications_current().groupBy("user_id").count().collect()
    wds = api.withdrawals_current().select("id", "user_id", "amount", "status").collect()
    counts: dict[str, int] = {}
    for n in m.notifications.values():
        counts[n["user_id"]] = counts.get(n["user_id"], 0) + 1
    return (
        differ(
            "users (balance, package)",
            {r["id"]: (r["commission_balance"], r["package_id"]) for r in users},
            {u: (m.balance(u), r["package_id"]) for u, r in m.users.items()},
        )
        + differ("notification counts", {r["user_id"]: r["count"] for r in notes}, counts)
        + differ(
            "withdrawals",
            {r["id"]: (r["user_id"], r["amount"], r["status"]) for r in wds},
            {i: (w["user_id"], w["amount"], w["status"]) for i, w in m.withdrawals.items()},
        )
    )


def run(seed: int, tracer: Tracer) -> dict:
    rng = random.Random(seed)
    ops = Ops()
    layer: dict[str, float] = {}
    problems: list[str] = []
    work = os.path.join(WORK, "api", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)

    # the seeded state before and after the redemption history
    model = Model(rng)
    before = _rows(model)
    events = _backfill_events(model, rng)
    for eid, code, uid, ref, ts in events:
        model.redeem(code, uid, ref, ts, eid)
    after = {**before, **{n: rows for n, rows in _rows(model).items() if n in FACTS}}

    sess = Session(tracer)
    try:
        spark = sess.spark
        layer["session.start_s"] = sess.start_s
        from r_e_hive__spark.api import RehiveAPI

        gen = []
        # the JVM starts once; traced runs repeat state generation warm
        for i in range(SETUP_REPEATS if tracer.enabled else 1):
            state_dir = os.path.join(work, f"state{i}")
            with tracer.span("catalog.warm"):  # the API's tables are its catalog
                t0 = time.perf_counter()
                tables = _state(spark, after, state_dir)
                gen.append(time.perf_counter() - t0)
        # the first generation is the cold one a session pays (first
        # DataFrames, parquet writes and reads); the repeats are warm
        setup_s = sess.start_s + gen[0]
        if tracer.enabled:
            layer["catalog.warm_s"] = median(gen[1:])
        base_mb = sess.storage_mb()
        layer["catalog.cached_mb"] = base_mb

        api = RehiveAPI(spark, tables, str(AS_OF))
        # untimed warm-up: the derived views, checked whole against the model
        with tracer.span("check.before_stream"):
            problems += [f"before the stream: {p}" for p in _check_final(model, api)]
        # a refused redemption does not change the model, so its place after
        # the stream leaves every other expectation as it is
        requests = _plan(model, rng, STREAM + TRACED_ONLY)
        responses = []
        pinned = []
        for kind, args, expect in requests[: len(STREAM)]:
            _send(api, kind, args, expect, sess, ops, tracer, base_mb, pinned, responses, problems)

        problems += _check_final(model, api)
        if tracer.enabled:
            with tracer.span("pipelines.users_current"):
                t0 = time.perf_counter()
                api.users_current().write.format("noop").mode("overwrite").save()
                layer["pipelines.users_current_s"] = time.perf_counter() - t0
            layer["api.plan_nodes"] = _plan_nodes(api.users_current())
            for kind, args, expect in requests[len(STREAM):]:
                _send(api, kind, args, expect, sess, ops, tracer, base_mb, pinned, responses,
                      problems)
            layer["operators.pinned_mb"] = max(pinned)
            problems += _traced_backfill(spark, before, events, after, work, layer, tracer)
            with tracer.span("calibration.range_sum"):
                layer["calibration.range_sum_s"] = sess.range_sum_s()
        peak = sess.peak_rss_mb()
        for kind, expect, status, rows in responses:
            diff = _check(kind, expect, status, rows)
            if diff:
                problems.append(f"{kind}: {diff}")
    finally:
        sess.close()
        shutil.rmtree(work, ignore_errors=True)

    e2e = {"setup_s": setup_s, **ops.end_to_end(), "peak_rss_mb": peak}
    if tracer.enabled:
        by_class = {"read": [], "write": [], "redeem": []}
        for kind, xs in ops.lat.items():
            cls = "read" if kind in READS else "redeem" if kind in REDEEM else "write"
            by_class[cls] += xs
            layer[f"api.{kind}.p50_s"] = median(xs)
            layer[f"api.{kind}.jobs"] = median(ops.jobs[kind])
        for cls, xs in by_class.items():
            layer[f"api.{cls}_p50_s"] = median(xs)
    return {
        "correct": not problems,
        "problems": problems,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "e2e": e2e,
        "layer": layer,
        "kinds": {k: (median(v), len(v)) for k, v in ops.lat.items()},
    }


def _send(api, kind, args, expect, sess: Session, ops: Ops, tracer: Tracer, base_mb: float,
          pinned: list, responses: list, problems: list) -> None:
    """One timed request, from the call to its collected response."""
    from r_e_hive__spark.api import ApiError

    sess.fence()
    ops.attempted += 1
    status, rows = 200, None
    try:
        with tracer.span(f"api.{kind}", kind=kind) as op:
            with tracer.span("build") as b:
                t0 = time.perf_counter()
                try:
                    res = getattr(api, kind)(*args)
                except ApiError as e:  # a refusal is a response
                    status, res = e.status, None
                t1 = time.perf_counter()
            with tracer.span("exec"):
                if hasattr(res, "collect"):
                    rows = res.collect()
                t2 = time.perf_counter()
    except Exception as e:  # a failing request is counted, not fatal
        ops.failed += 1
        problems.append(f"{kind}: {type(e).__name__}: {e}")
        return
    ops.add(kind, t1 - t0, t2 - t1)
    if op is not None:
        ops.add_jobs(kind, tracer.jobs(op["id"]), tracer.jobs(b["id"]))
        pinned.append(sess.storage_mb() - base_mb)
    responses.append((kind, expect, status, rows))


def _traced_backfill(spark, before: dict, events: list, after: dict, work: str,
                     layer: dict, tracer: Tracer) -> list[str]:
    """The redemption history set-at-a-time over fresh pre-history fact
    tables, checked against the post-history rows; then the upline closure
    of the resulting edge set on its own."""
    from r_e_hive__spark.operators.graph import ancestor_closure

    bf_dir = os.path.join(work, "backfill")
    frames = _state(spark, before, bf_dir)
    with tracer.span("pipelines.backfill"):
        t0 = time.perf_counter()
        tables = _backfill(spark, frames, events, bf_dir, layer, tracer)
        layer["pipelines.backfill_s"] = time.perf_counter() - t0
    problems = _check_backfill(_facts(after), bf_dir)
    edges = tables["referrals"].selectExpr("referred_id AS child", "referrer_id AS parent")
    with tracer.span("graph.ancestor_closure"):
        t0 = time.perf_counter()
        ancestor_closure(edges, "child", "parent", max_levels=MAX_LEVELS).write.format(
            "noop"
        ).mode("overwrite").save()
        layer["graph.ancestor_closure_s"] = time.perf_counter() - t0
    return problems


def _plan_nodes(df) -> int:
    """Node count of the DataFrame's analysed logical plan."""
    return _count(df._jdf.queryExecution().analyzed())


def _count(node) -> int:
    kids = node.children()
    return 1 + sum(_count(kids.apply(i)) for i in range(kids.size()))
