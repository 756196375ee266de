"""Endpoint-parity tests for the RehiveAPI facade (api.py).

Each test pins one or more reference routes (render-complete-deploy.js
line refs in api.py docstrings) against the fixture state: read endpoints
check ordering/limits/relation loads; write endpoints check the
event-sourced views derive exactly the reference's UPDATE effects
(balance debit on approval, +1-month subscription on approve, read flag,
commission fan-out) with the engine's exact-decimal money rule.
"""

from __future__ import annotations

import datetime
from decimal import Decimal

import pytest

from r_e_hive__spark.api import ApiError, RehiveAPI
from tests.conftest import count_jobs

TS = datetime.datetime(2024, 1, 22, 12, 0, 0)


@pytest.fixture()
def api(spark):
    """Fresh facade per test — for tests that MUTATE state.  Closed after
    the test, so its table caches do not pile up over the session."""
    with RehiveAPI.from_fixtures(spark) as api:
        yield api


@pytest.fixture(scope="module")
def api_ro(spark):
    """One shared facade for read-only tests (construction is ~2 s of
    createDataFrame; reads never mutate self.t)."""
    with RehiveAPI.from_fixtures(spark) as api:
        yield api


def _balance(api, uid):
    return api.users_current().where(f"id='{uid}'").collect()[0][
        "commission_balance"
    ]


# ---------------------------------------------------------------------------
# read endpoints
# ---------------------------------------------------------------------------


def test_get_packages_ascending_price(api_ro):
    api = api_ro  # read-only: shared module fixture
    rows = api.get_packages().collect()
    prices = [r["price"] for r in rows]
    assert prices == sorted(prices)
    assert [r["name"] for r in rows][0] == "starter"


def test_get_user_with_package_and_404(api_ro):
    api = api_ro  # read-only: shared module fixture
    u = api.get_user("u0001").collect()[0]
    assert u["package_name"] == "diamond"  # package 5 relation load
    assert u["commission_balance"] > 0  # derived, not the stored 0.00
    with pytest.raises(ApiError) as e:
        api.get_user("nope")
    assert e.value.status == 404


def test_get_user_referrals_two_level_load(api_ro):
    api = api_ro  # read-only: shared module fixture
    rows = api.get_user_referrals("u0001").collect()
    # u0001 has 6 chain heads + the hub = 7 direct referrals
    assert len(rows) == 7
    created = [r["created_at"] for r in rows]
    assert created == sorted(created, reverse=True)
    assert all(r["referred_user_email"].endswith("@example.com") for r in rows)


def test_commission_history_limit_and_tiebreak(api_ro):
    api = api_ro  # read-only: shared module fixture
    rows = api.get_commission_history("u0001").collect()
    assert len(rows) == 100  # 105 exist; LIMIT 100 (:515)
    keys = [(r["created_at"], r["id"]) for r in rows]
    assert keys == sorted(keys, reverse=True)  # desc + id tiebreak


def test_notifications_limit_50(api_ro):
    api = api_ro  # read-only: shared module fixture
    assert len(api.get_notifications("u0001").collect()) == 50  # 60 exist (:667)


def test_admin_lists_user_relation(api_ro):
    api = api_ro  # read-only: shared module fixture
    w = api.admin_withdrawals().collect()
    assert len(w) == 4
    assert all(r["user_full_name"] is not None for r in w)
    p = api.admin_subscription_payments().collect()
    assert len(p) == 2


# ---------------------------------------------------------------------------
# gift codes + redemption
# ---------------------------------------------------------------------------


def test_create_gift_code_deterministic(spark):
    with RehiveAPI.from_fixtures(spark) as a1, RehiveAPI.from_fixtures(spark) as a2:
        c1 = a1.create_gift_code(2, "u0001", TS).collect()[0]
        c2 = a2.create_gift_code(2, "u0001", TS).collect()[0]
        assert c1["code"] == c2["code"]  # seeded, never rand() (F7)
        assert len(c1["code"]) == 8 and c1["code"].isalnum()
        assert c1["id"] == 12  # max(11) + 1, the RETURNING id rule
        # visible through the read endpoint
        assert a1.get_gift_codes("u0001").where("id = 12").count() == 1


def test_redeem_guard_parity(api_ro):
    api = api_ro  # read-only: shared module fixture
    with pytest.raises(ApiError) as e:
        api.redeem_gift_code("NOPE0000", "u0003", TS)
    assert e.value.status == 404
    with pytest.raises(ApiError) as e:
        api.redeem_gift_code("GCODE003", "u0003", TS)  # base-table redeemed
    assert e.value.status == 404
    with pytest.raises(ApiError) as e:
        api.redeem_gift_code("GCODE006", "u0002", TS)  # creator == redeemer
    assert e.value.status == 400
    assert "own gift code" in e.value.message


def test_redeem_full_pipeline_effects(api):
    before = _balance(api, "u0001")
    out = api.redeem_gift_code("GCODE001", "u0002", TS)
    assert out == {"message": "Gift code redeemed successfully"}
    # package 1: price 100.00, direct 0.10 -> 10.00 to creator u0001;
    # u0002's 1-level upline is u0001: passive 100.00 x 0.05 = 5.00
    assert _balance(api, "u0001") == before + Decimal("15.00")
    # code now redeemed in the view + second redemption rejects (:466)
    gc = api.gift_codes_current().where("code='GCODE001'").collect()[0]
    assert gc["is_redeemed"] and gc["redeemed_by"] == "u0002"
    with pytest.raises(ApiError):
        api.redeem_gift_code("GCODE001", "u0003", TS)
    # redeemer's package updated via the accepted-redemption view (:484-486)
    assert api.get_user("u0002").collect()[0]["package_id"] == 1
    # company profit = 100 - 15 = 85.00 (:303-311)
    prof = api.t["company_profits"].orderBy("id").collect()[-1]
    assert prof["amount"] == Decimal("85.00")
    assert prof["commission_paid"] == Decimal("15.00")
    # commission fan-out notifications (:234-239, :291-295)
    n = api.get_notifications("u0001", 2).collect()
    assert any(r["title"] == "Commission Earned" for r in n)


# ---------------------------------------------------------------------------
# withdrawals
# ---------------------------------------------------------------------------


def test_withdrawal_flow(api):
    # over-balance guard (:541-545)
    with pytest.raises(ApiError) as e:
        api.request_withdrawal("u0075", "5.00", TS)
    assert e.value.status == 400
    assert e.value.message == "Insufficient commission balance"
    with pytest.raises(ApiError):
        api.request_withdrawal("ghost", "1.00", TS)

    before = _balance(api, "u0001")
    w = api.request_withdrawal(
        "u0001", "5.00", TS, payment_details='{"bank_name":"B"}'
    ).collect()[0]
    assert w["status"] == "pending"
    assert w["payment_method"] == "bank_transfer"  # :551 default
    assert _balance(api, "u0001") == before  # pending does not debit

    with pytest.raises(ApiError) as e:
        api.process_withdrawal(w["id"], "cancelled", TS)
    assert e.value.status == 400
    with pytest.raises(ApiError) as e:
        api.process_withdrawal(9999, "approved", TS)
    assert e.value.status == 404

    api.process_withdrawal(w["id"], "approved", TS, admin_notes="ok")
    assert _balance(api, "u0001") == before - Decimal("5.00")  # :722-727
    cur = api.get_withdrawals("u0001").where(f"id={w['id']}").collect()[0]
    assert cur["status"] == "approved" and cur["admin_notes"] == "ok"
    assert cur["processed_at"] == TS
    n = api.get_notifications("u0001", 1).collect()[0]
    assert n["title"] == "Withdrawal Approved"  # capitalize (:741)
    assert n["message"] == "Your withdrawal request for $5.00 has been approved"


def test_withdrawal_reject_does_not_debit(api):
    before = _balance(api, "u0001")
    w = api.request_withdrawal("u0001", "7.00", TS, payment_details="{}").collect()[0]
    api.process_withdrawal(w["id"], "rejected", TS)
    assert _balance(api, "u0001") == before
    assert (
        api.get_withdrawals("u0001").where(f"id={w['id']}").collect()[0]["status"]
        == "rejected"
    )
    n = api.get_notifications("u0001", 1).collect()[0]
    assert n["title"] == "Withdrawal Rejected"
    assert n["message"] == "Your withdrawal request for $7.00 has been rejected"


# ---------------------------------------------------------------------------
# subscriptions
# ---------------------------------------------------------------------------


def test_subscription_flow(api):
    p = api.pay_subscription("u0003", TS, "/uploads/x.png").collect()[0]
    assert p["amount"] == Decimal("50.00") and p["status"] == "pending"  # :623
    n = api.get_notifications("u0003", 1).collect()[0]
    assert n["title"] == "Subscription Payment Submitted"
    assert n["message"] == "Your subscription payment has been submitted for review"

    api.approve_subscription_payment(p["id"], TS)
    n = api.get_notifications("u0003", 1).collect()[0]
    assert n["title"] == "Subscription Activated"
    assert n["message"] == (
        "Your subscription payment has been approved "
        "and your subscription is now active"
    )
    st = api.get_subscription_status("u0003").collect()[0]
    assert st["status"] == "active"
    assert st["expires_at"] == TS + datetime.timedelta(days=31)  # +1 month (:786)
    assert st["last_payment"] == TS
    assert (
        api.get_subscription_payments("u0003").collect()[0]["status"] == "approved"
    )

    p2 = api.pay_subscription("u0004", TS).collect()[0]
    api.reject_subscription_payment(p2["id"], TS, "bad proof")
    assert (
        api.get_subscription_payments("u0004").collect()[0]["status"] == "rejected"
    )
    n2 = api.get_notifications("u0004", 1).collect()[0]
    assert n2["title"] == "Subscription Payment Rejected"
    assert n2["message"] == "Your subscription payment has been rejected. bad proof"
    p3 = api.pay_subscription("u0005", TS).collect()[0]
    api.reject_subscription_payment(p3["id"], TS)
    n3 = api.get_notifications("u0005", 1).collect()[0]
    assert n3["title"] == "Subscription Payment Rejected"
    assert n3["message"] == (
        "Your subscription payment has been rejected. "
        "Please contact support for more information."
    )

    with pytest.raises(ApiError) as e:
        api.approve_subscription_payment(9999, TS)
    assert e.value.status == 404
    with pytest.raises(ApiError) as e:
        api.get_subscription_status("ghost")
    assert e.value.status == 404


# ---------------------------------------------------------------------------
# add-commission + notifications read flag
# ---------------------------------------------------------------------------


def test_add_commission_and_mark_read(api):
    api.add_commission("u0075", "12.34", "direct", TS, "bonus")
    assert _balance(api, "u0075") == Decimal("12.34")
    n = api.get_notifications("u0075").collect()[0]
    assert n["title"] == "Commission Added"
    assert (
        n["message"]
        == "$12.34 direct commission has been added to your account. bonus"
    )
    assert n["is_read"] is False
    # marking is per-id: snapshot another user's flags and require them
    # bit-identical after the mark (round-5 review: the old in-(True,False)
    # assertion was vacuous)
    u1_before = {
        r["id"]: r["is_read"] for r in api.get_notifications("u0001").collect()
    }
    api.mark_notification_read(n["id"], TS)
    assert api.get_notifications("u0075").collect()[0]["is_read"] is True
    u1_after = {
        r["id"]: r["is_read"] for r in api.get_notifications("u0001").collect()
    }
    assert u1_after == u1_before


def test_add_commission_message_shows_raw_amount(api):
    """:869 parity — the notification interpolates the RAW request amount
    ('12.3', not the quantized '12.30'); the ledger row stays exact."""
    api.add_commission("u0074", "12.3", "direct", TS)
    n = api.get_notifications("u0074").collect()[0]
    # no description: the JS template keeps the space after "account."
    assert n["message"] == "$12.3 direct commission has been added to your account. "
    assert _balance(api, "u0074") == Decimal("12.30")


# ---------------------------------------------------------------------------
# round-5 review regressions
# ---------------------------------------------------------------------------


def test_redeem_code_with_missing_package(api):
    """processCommissions early-returns on a dangling package (:214): the
    code still redeems and the user re-points, but no ledger/profit rows
    appear."""
    gc = api.create_gift_code(999, "u0001", TS).collect()[0]  # no package 999
    n_comm = api.t["commissions"].count()
    n_prof = api.t["company_profits"].count()
    bal = _balance(api, "u0001")
    out = api.redeem_gift_code(gc["code"], "u0002", TS)
    assert out == {"message": "Gift code redeemed successfully"}
    cur = api.gift_codes_current().where(f"code='{gc['code']}'").collect()[0]
    assert cur["is_redeemed"] and cur["redeemed_by"] == "u0002"
    assert api.t["commissions"].count() == n_comm
    assert api.t["company_profits"].count() == n_prof
    assert _balance(api, "u0001") == bal


def test_decision_tiebreak_same_timestamp(api):
    """Two decisions with one processed_at: the later APPEND wins (seq
    tiebreaker) — deterministic, not partition-order-dependent."""
    w = api.request_withdrawal("u0001", "3.00", TS, payment_details="{}").collect()[0]
    bal = _balance(api, "u0001")
    api.process_withdrawal(w["id"], "approved", TS)
    api.process_withdrawal(w["id"], "rejected", TS)  # same ts, later seq
    cur = api.get_withdrawals("u0001").where(f"id={w['id']}").collect()[0]
    assert cur["status"] == "rejected"
    assert _balance(api, "u0001") == bal  # final state: no debit


def test_event_ids_resume_from_supplied_log(spark, api):
    """A facade constructed over a prior session's accepted-redemption log
    continues event ids past its max (the max+sequence contract)."""
    api.redeem_gift_code("GCODE001", "u0002", TS)
    prior = {name: df for name, df in api.t.items()}
    with RehiveAPI(spark, prior, api.as_of) as api2:
        api2.redeem_gift_code("GCODE002", "u0003", TS)
        ids = [r["event_id"] for r in api2.t["redemptions_accepted"].collect()]
    assert len(ids) == len(set(ids)) == 2
    assert max(ids) == 2


# ---------------------------------------------------------------------------
# generic Drizzle-shaped builder (find_many / find_first / insert / sql)
# ---------------------------------------------------------------------------


def test_find_many_two_level_relation_load(api_ro):
    api = api_ro  # read-only: shared module fixture
    rows = api.find_many(
        "referrals",
        where={"referrer_id": "u0001"},
        with_={"referred": {"package": True}},
        order_by=[("created_at", "desc"), ("id", "desc")],
    ).collect()
    assert len(rows) == 7  # same shape as the :384-401 endpoint
    assert all(r["referred_email"].endswith("@example.com") for r in rows)
    # nested prefix composition: referred -> package
    assert any(r["referred_package_name"] is not None for r in rows)


def test_find_first_point_lookup(api_ro):
    api = api_ro  # read-only: shared module fixture
    u = api.find_first(
        "users", where={"id": "u0001"}, with_={"package": True}
    ).collect()
    assert len(u) == 1 and u[0]["package_name"] == "diamond"
    # derived field comes from the CURRENT view, not the stored column
    assert u[0]["commission_balance"] > 0


def test_find_many_matches_named_endpoint(api_ro):
    api = api_ro  # read-only: shared module fixture
    built = api.find_many(
        "commissions",
        where={"user_id": "u0001"},
        order_by=[("created_at", "desc"), ("id", "desc")],
        limit=100,
    ).collect()
    named = api.get_commission_history("u0001").collect()
    assert [r["id"] for r in built] == [r["id"] for r in named]


def test_find_many_user_relation_keeps_fk(api_ro):
    api = api_ro  # read-only: shared module fixture
    """The `user` relation's aliased pk is literally 'user_id' — the load
    must keep the source fk column intact (round-5: drop-by-name would
    delete both)."""
    rows = api.find_many(
        "commission_withdrawals", with_={"user": True}
    ).collect()
    assert len(rows) == 4
    assert all(r["user_id"] is not None for r in rows)
    assert all(r["user_email"] is not None for r in rows)


def test_builder_insert_returning_and_sql(api):
    row = api.insert(
        "notifications",
        dict(user_id="u0075", title="t", message="m", type="info",
             is_read=False, created_at=TS),
    ).collect()[0]
    assert row["id"] == 61  # max(60 fixtures) + 1
    assert api.get_notifications("u0075").collect()[0]["id"] == 61
    # raw-SQL escape hatch over the CURRENT views (F17)
    n = api.sql(
        "SELECT COUNT(*) AS n FROM api_users WHERE subscription_status = 'active'"
    ).collect()[0]["n"]
    assert n > 0
    with pytest.raises(ApiError):
        api.find_many("users", with_={"nope": True})
    with pytest.raises(ApiError):
        api.insert("redemption_events", {})


def test_insert_string_pk_requires_explicit_id(api):
    """Round-5 review: the uuid-pk users table cannot auto-assign
    max(id)+1 over string ids — an explicit id is required (F15), and a
    supplied id is honored on any table."""
    with pytest.raises(ApiError) as e:
        api.insert("users", dict(email="x@y.z", full_name="X",
                                 referral_code="RX", kyc_status="pending",
                                 created_at=TS,
                                 commission_balance=Decimal("0.00"),
                                 subscription_status="inactive"))
    assert e.value.status == 400
    row = api.insert(
        "users",
        dict(id="u9999", email="x@y.z", full_name="X", referral_code="RX",
             kyc_status="pending", created_at=TS,
             commission_balance=Decimal("0.00"),
             subscription_status="inactive"),
    ).collect()[0]
    assert row["id"] == "u9999"
    assert api.find_first("users", where={"id": "u9999"}).count() == 1


# ---------------------------------------------------------------------------
# independent DuckDB differential for the read endpoints
# ---------------------------------------------------------------------------


def _duck(api):
    """Register the fixture base tables in DuckDB for endpoint oracles."""
    import duckdb

    con = duckdb.connect()
    for t in ("users", "packages", "referrals", "commissions",
              "commission_withdrawals", "notifications"):
        con.register(t, api.t[t].toPandas())
    return con


def test_referrals_endpoint_matches_duckdb(api_ro):
    """GET /api/users/:id/referrals vs the equivalent SQL the reference's
    Drizzle relation-load compiles to — an oracle independent of the
    facade's own join code."""
    import pandas as pd

    got = (
        api_ro.get_user_referrals("u0001")
        .select("id", "referred_id", "created_at",
                "referred_user_email", "package_name")
        .toPandas()
    )
    want = _duck(api_ro).execute(
        """
        SELECT r.id, r.referred_id, r.created_at,
               u.email AS referred_user_email, p.name AS package_name
        FROM referrals r
        LEFT JOIN users u ON u.id = r.referred_id
        LEFT JOIN packages p ON p.id = u.package_id
        WHERE r.referrer_id = 'u0001'
        ORDER BY r.created_at DESC, r.id DESC
        """
    ).fetchdf()
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True),
        check_dtype=False,
    )


def test_commission_history_matches_duckdb(api_ro):
    import pandas as pd

    got = api_ro.get_commission_history("u0001").toPandas()
    want = _duck(api_ro).execute(
        """
        SELECT * FROM commissions WHERE user_id = 'u0001'
        ORDER BY created_at DESC, id DESC LIMIT 100
        """
    ).fetchdf()
    # Spark gives None for a NULL, DuckDB's frame NaN: one null value on
    # both sides, so every cell (nulls too) is compared as equal or not
    pd.testing.assert_frame_equal(
        _nulls_as_none(got),
        _nulls_as_none(want[got.columns.tolist()]),
        check_dtype=False,
    )


def _nulls_as_none(df):
    df = df.reset_index(drop=True).astype(object)
    return df.where(df.notna(), None)


def test_balance_matches_duckdb(api_ro):
    """The S5 core invariant against an independent engine: balance =
    Σ ledger − Σ approved withdrawals, exact decimal."""
    got = {
        r["user_id"]: r["commission_balance"]
        for r in api_ro.users_current()
        .select(__import__("pyspark.sql.functions", fromlist=["col"]).col("id").alias("user_id"),
                "commission_balance")
        .collect()
    }
    want = _duck(api_ro).execute(
        """
        SELECT u.id,
               COALESCE(c.s, 0.00) - COALESCE(w.s, 0.00) AS bal
        FROM users u
        LEFT JOIN (SELECT user_id, SUM(amount) s FROM commissions GROUP BY 1) c
          ON c.user_id = u.id
        LEFT JOIN (SELECT user_id, SUM(amount) s FROM commission_withdrawals
                   WHERE status = 'approved' GROUP BY 1) w
          ON w.user_id = u.id
        """
    ).fetchall()
    for uid, bal in want:
        assert got[uid] == bal, (uid, got[uid], bal)


# ---------------------------------------------------------------------------
# property: random decision sequences (hypothesis)
# ---------------------------------------------------------------------------


def test_decision_sequence_property(spark):
    """For ANY sequence of approve/reject decisions on a withdrawal, the
    current status equals the LAST decision and the balance debit equals
    amount iff that last decision is 'approved' — the event-sourced twin
    of the reference's last-UPDATE-wins column."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    api = RehiveAPI.from_fixtures(spark)
    w = api.request_withdrawal("u0001", "2.00", TS, payment_details="{}").collect()[0]
    base = _balance(api, "u0001")
    state = {"n": 0}

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(seq=st.lists(st.sampled_from(["approved", "rejected"]), min_size=1, max_size=4))
    def run(seq):
        for i, s in enumerate(seq):
            state["n"] += 1
            api.process_withdrawal(
                w["id"], s, TS + datetime.timedelta(seconds=state["n"])
            )
        cur = api.get_withdrawals("u0001").where(f"id={w['id']}").collect()[0]
        assert cur["status"] == seq[-1]
        expect = base - Decimal("2.00") if seq[-1] == "approved" else base
        assert _balance(api, "u0001") == expect

    try:
        run()
    finally:
        api.close()


# ---------------------------------------------------------------------------
# driver-local request state: local relations, id high-water marks
# ---------------------------------------------------------------------------


def _plan_nodes(df) -> int:
    def count(node):
        kids = node.children()
        return 1 + sum(count(kids.apply(i)) for i in range(kids.size()))

    return count(df._jdf.queryExecution().analyzed())


def test_insert_explicit_id_moves_high_water_mark(api):
    """An explicit id raises the mark: the next generated id continues
    past it, whether the mark was seeded before or after."""
    note = dict(user_id="u0075", title="t", message="m", type="info",
                is_read=False, created_at=TS)
    assert api.insert("notifications", note).collect()[0]["id"] == 61
    api.insert("notifications", {**note, "id": 500})
    assert api.insert("notifications", note).collect()[0]["id"] == 501
    api.insert("notifications", {**note, "id": 100})  # a lower id: mark stays
    assert api.insert("notifications", note).collect()[0]["id"] == 502
    # unseeded table: the first lookup sees the explicit row too
    pay = dict(user_id="u0003", amount=Decimal("50.00"), status="pending",
               created_at=TS)
    api.insert("subscription_payments", {**pay, "id": 500})
    assert api.insert("subscription_payments", pay).collect()[0]["id"] == 501


def test_local_rows_keep_naive_timestamps_process_local(spark, api):
    """A naive datetime means process-local time on the driver-local path,
    exactly as it does for ``createDataFrame(list)``."""
    import os
    import time

    schema = api._schema("notification_reads")
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        local = api._local([api._row("notification_reads",
                                     notification_id=1, read_at=TS)], schema)
        listed = spark.createDataFrame([(1, TS)], schema)
        got = local.collect()[0]["read_at"]
        assert got == listed.collect()[0]["read_at"] == TS
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


def test_writes_run_no_job_and_keep_a_flat_plan(spark, api):
    """Once a table's id mark is seeded, a write is driver-local (no Spark
    job), and the write log stays ONE local relation: the plan has the
    same size after 2 writes as after 20."""
    def write():
        api.add_commission("u0075", "1.00", "direct", TS)

    write()  # seeds the commissions/notifications marks (one max() each)
    assert count_jobs(spark, write) == 0
    after_2 = _plan_nodes(api.t["commissions"])
    for _ in range(18):
        write()
    assert _plan_nodes(api.t["commissions"]) == after_2
    assert _balance(api, "u0075") == Decimal("20.00")


def test_empty_logs_prune_out_of_views(api_ro):
    """With no decisions or reads, the empty log is a LocalRelation that
    Catalyst prunes: no latest-decision Window, no read-event Join."""
    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert "Window" not in optimized(api_ro.withdrawals_current())
    assert "Join" not in optimized(api_ro.notifications_current())


def test_writes_build_no_frame(api, monkeypatch):
    """Once the id marks are seeded, a write is a Python append: it builds
    no local relation and no union."""
    from pyspark.sql import DataFrame

    api.add_commission("u0075", "1.00", "direct", TS)  # seeds the marks

    def refuse(*_a, **_k):
        raise AssertionError("a write built a frame")

    with monkeypatch.context() as m:
        m.setattr(RehiveAPI, "_local", refuse)
        m.setattr(DataFrame, "unionByName", refuse)
        api.add_commission("u0075", "2.00", "direct", TS)
        api.mark_notification_read(61, TS)
    assert _balance(api, "u0075") == Decimal("3.00")
    reads = api.t["notification_reads"].collect()
    assert [r["notification_id"] for r in reads] == [61]


def test_first_read_after_writes_builds_one_log_frame(api, monkeypatch):
    """k writes, then reads: the first read builds ONE log frame holding
    the base rows and the k new ones in append order; a second read with
    no write between returns the same frame."""
    base = api.t["commissions"].collect()
    k = 5
    for i in range(k):
        api.add_commission("u0075", f"{i + 1}.00", "direct", TS)
    built = []
    local = api._local
    monkeypatch.setattr(api, "_local", lambda *a: built.append(a) or local(*a))
    first = api.t["commissions"]
    assert api.t["commissions"] is first
    assert len(built) == 1
    rows = first.collect()
    assert rows[: len(base)] == base
    new = rows[len(base):]
    top = max(r["id"] for r in base)
    assert [r["id"] for r in new] == list(range(top + 1, top + 1 + k))
    assert [r["amount"] for r in new] == [Decimal(f"{i + 1}.00") for i in range(k)]
    assert len(built) == 1


def test_naive_timestamp_instant_fixed_at_write(api):
    """A naive datetime means process-local time when it is WRITTEN: a
    table first read after the process time zone changed still holds the
    instant of the write."""
    import os
    import time

    old = os.environ.get("TZ")
    try:
        os.environ["TZ"] = "America/New_York"
        time.tzset()
        want = TS.astimezone(datetime.timezone.utc)
        api.add_commission("u0075", "1.00", "direct", TS)
        os.environ["TZ"] = "Asia/Tokyo"
        time.tzset()
        rows = api.t["commissions"].collect()
        got = max(rows, key=lambda r: r["id"])["created_at"]
        assert got.astimezone(datetime.timezone.utc) == want
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


# ---------------------------------------------------------------------------
# in-session caller tables: cached on first use, released on close()
# ---------------------------------------------------------------------------


def _leaves(plan) -> list:
    """Leaf operators of an executed plan, through AQE's wrappers (query
    stages, reused exchanges); an InMemoryTableScan is a leaf — the plan
    that fills its cache is not a child of it."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _leaves(plan.executedPlan())
    if name.endswith("QueryStageExec"):
        return _leaves(plan.plan())
    kids = plan.children()
    if kids.size() == 0:
        return [plan]
    return [leaf for i in range(kids.size()) for leaf in _leaves(kids.apply(i))]


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _cached_rdd_ids(spark) -> set:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_point_read_scans_cached_tables(spark, api):
    """After one read, a get_user point read scans users,
    commission_withdrawals and packages in memory: every leaf of its
    executed plan is an InMemoryTableScan (or a driver-local relation),
    none a Scan ExistingRDD that re-runs the caller's lineage."""
    api.get_user("u0001")  # materializes the caches it touches
    # u0001 has approved withdrawals: AQE cannot drop that side as empty
    df = api._with_package(api.users_current("u0001"))
    df.collect()
    leaves = _leaves(df._jdf.queryExecution().executedPlan())
    names = {leaf.nodeName() for leaf in leaves}
    assert names <= {"InMemoryTableScan", "LocalTableScan"}, names
    scanned = [
        {a.name() for a in _seq(leaf.relation().output())}
        for leaf in leaves
        if leaf.nodeName() == "InMemoryTableScan"
    ]
    for table in ("users", "commission_withdrawals", "packages"):
        assert api.t[table].is_cached
    assert any({"referral_code", "kyc_status"} <= s for s in scanned)  # users
    assert any({"payment_method", "amount"} <= s for s in scanned)  # withdrawals
    assert any({"package_monthly_subscription_fee"} <= s for s in scanned)


def test_file_backed_table_keeps_its_pushed_scan(spark, tmp_path):
    """A parquet-backed caller table is not cached, and the point read's
    user key reaches its scan as a pushed filter."""
    from pyspark import StorageLevel

    from r_e_hive__spark import fixtures

    frames = fixtures.fixture_frames(spark)
    path = str(tmp_path / "commissions")
    frames["commissions"].write.parquet(path)
    frames["commissions"] = spark.read.parquet(path)
    with RehiveAPI(spark, frames, str(fixtures.AS_OF_DT)) as api:
        assert api.t["commissions"].storageLevel == StorageLevel.NONE
        assert api.t["users"].is_cached
        df = api.users_current("u0001")
        row = df.collect()[0]
        plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(user_id), EqualTo(user_id,u0001)]" in plan
    assert row["commission_balance"] == sum(
        r["amount"] for r in frames["commissions"].where("user_id = 'u0001'").collect()
    ) - sum(
        r["amount"]
        for r in frames["commission_withdrawals"]
        .where("user_id = 'u0001' AND status = 'approved'")
        .collect()
    )


def test_close_releases_only_the_api_caches(spark):
    """close() unpersists exactly the frames the API cached: the cached
    RDDs are those of before the API was built, and a frame the caller
    cached itself stays cached."""
    from r_e_hive__spark import fixtures

    frames = fixtures.fixture_frames(spark)
    mine = frames["packages"].cache()
    mine.count()
    before = _cached_rdd_ids(spark)
    api = RehiveAPI(spark, frames, str(fixtures.AS_OF_DT))
    try:
        assert not any(df is mine for df in api._cached)
        api.get_user("u0001")
        assert _cached_rdd_ids(spark) > before
    finally:
        api.close()
    try:
        assert _cached_rdd_ids(spark) <= before
        assert mine.is_cached and mine.storageLevel.useMemory
        assert api.get_user("u0001").collect()[0]["package_name"] == "diamond"
    finally:
        mine.unpersist(blocking=True)


def test_point_read_equals_the_full_view_row(api):
    """users_current(user_id) filters every input by the key; the row is
    the one the full view holds, for a user with commissions, approved and
    pending withdrawals, a redemption and an approved subscription."""
    from pyspark.sql import functions as F

    api.redeem_gift_code("GCODE001", "u0002", TS)
    w = api.request_withdrawal("u0001", "4.00", TS, payment_details="{}")
    api.process_withdrawal(w.collect()[0]["id"], "approved", TS)
    p = api.pay_subscription("u0002", TS).collect()[0]
    api.approve_subscription_payment(p["id"], TS)
    for uid in ("u0001", "u0002", "u0075"):
        want = api.users_current().where(F.col("id") == uid).collect()
        assert api.users_current(uid).collect() == want
        assert len(want) == 1
    assert api.users_current("ghost").collect() == []


def test_point_read_key_is_a_literal(api):
    """The user key travels as a literal, never as SQL text: an id with a
    quote reads its own row and no other."""
    uid = "o'brien' OR '1'='1"
    api.insert(
        "users",
        dict(id=uid, email="o@b.c", full_name="O", referral_code="RO",
             kyc_status="pending", created_at=TS,
             commission_balance=Decimal("0.00"),
             subscription_status="inactive"),
    )
    api.add_commission(uid, "3.50", "direct", TS)
    u = api.get_user(uid).collect()
    assert [r["id"] for r in u] == [uid]
    assert u[0]["commission_balance"] == Decimal("3.50")
    assert api.get_subscription_status(uid).collect()[0]["status"] == "expired"
    w = api.request_withdrawal(uid, "3.50", TS).collect()[0]
    assert w["user_id"] == uid
    api.process_withdrawal(w["id"], "approved", TS)
    with pytest.raises(ApiError) as e:
        api.request_withdrawal(uid, "0.01", TS)
    assert e.value.status == 400
    assert api.get_user("u0001").collect()[0]["commission_balance"] > 0
