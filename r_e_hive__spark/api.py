"""Endpoint-parity facade: every reference API surface as one Python call.

The reference is ~21 Express routes over Drizzle/Postgres
(render-complete-deploy.js:343-878).  This module re-expresses that whole
user-facing surface on the engine, so a user of the reference can switch
and run every query they run today:

==========================================================  ==============================
reference route (render-complete-deploy.js)                 RehiveAPI method
==========================================================  ==============================
GET  /api/users/me · /api/users/:id          (:343, :366)   get_user
GET  /api/users/:id/referrals                (:384)         get_user_referrals
GET  /api/packages                           (:403)         get_packages
POST /api/gift-codes                         (:415)         create_gift_code
GET  /api/gift-codes/:userId                 (:438)         get_gift_codes
POST /api/redeem-gift-code                   (:456)         redeem_gift_code
GET  /api/commission-history/:userId         (:510)         get_commission_history
POST /api/commission-withdrawals             (:525)         request_withdrawal
GET  /api/commission-withdrawals             (:562)         get_withdrawals
GET  /api/subscription/status                (:582)         get_subscription_status
POST /api/subscription/pay                   (:612)         pay_subscription
GET  /api/subscription/payments              (:642)         get_subscription_payments
GET  /api/notifications/:userId              (:662)         get_notifications
PATCH /api/notifications/:id/read            (:677)         mark_notification_read
GET  /api/admin/commission-withdrawals       (:691)         admin_withdrawals
PATCH /api/admin/commission-withdrawals/:id  (:705)         process_withdrawal
GET  /api/admin/subscription-payments        (:753)         admin_subscription_payments
PATCH .../subscription-payments/:id/approve  (:767)         approve_subscription_payment
PATCH .../subscription-payments/:id/reject   (:811)         reject_subscription_payment
POST /api/admin/add-commission               (:846)         add_commission
==========================================================  ==============================

(HTTP/session/auth/static-file plumbing — :147-195, :319-340, :881 — is a
non-goal per SURVEY.md §7; ``isFounder`` is the caller's concern.)

Semantics are the engine's event-sourced translation (SURVEY.md §0):

- every reference UPDATE becomes an append to a fact/decision log;
- every mutable field is derived by a view at read time:
  ``commission_balance`` = Σ ledger − Σ approved withdrawals,
  ``is_redeemed`` = accepted-redemption-exists,
  withdrawal/payment ``status`` = latest decision wins,
  ``is_read`` = read-event-exists,
  subscription fields = latest approved payment wins;
- ``redeem_gift_code`` runs the full set-at-a-time commission pipeline
  (pipelines/redemption.py) on the single event against current state —
  the request-shaped twin of the bulk batch job, so sequential semantics
  (second redemption of a code rejects, balance visibility) hold exactly
  as in the reference's autocommit-per-request model.

Error parity: reference 4xx responses surface as :class:`ApiError` with
the same status code and message.

Determinism contract (SURVEY.md §2.12): no wall-clock — every write takes
an explicit ``ts``; ``as_of`` is fixed at construction; generated ids are
``max(existing)+sequence`` over a declared order (the io.append_returning
contract); gift codes derive from a seed, never ``rand()``.

Scale note: this facade is the REQUEST-shaped surface — single-event
pipeline runs over the reference's per-request cost model.  The state it
writes itself stays on the driver, and a write is a Python append: it
extends the table's driver-side log and moves its id high-water marks,
with no Spark job and no JVM call.  Every appended row, and every empty
log, reaches Spark as a ``LocalRelation`` built from a pyarrow table, so
Catalyst prunes empty decision/read logs out of the views.  Generated ids
come from a driver-side high-water mark per ``(table, column)`` — one
``max()`` job the first time a table is used, none after.  Each table is
its caller-supplied base frame plus ONE local relation holding every row
appended so far, built on the first read after the table changes and kept
until the next append to it, so plans do not grow with the number of
writes (the appended rows must fit on the driver;
caller-supplied tables are never collected).  A caller-supplied table that
reads no files and is not a local relation — a ``createDataFrame(list)``
frame, whose every scan re-runs Python workers to unpickle its rows — is
``cache()``d lazily at construction, exactly as ``catalog.load_table``
caches small tables: the first request that reads it materializes it, and
later requests scan it in memory.  File-backed tables keep their own scans
(and pushed filters); frames the caller already cached are left as they
are.  ``close()`` (or leaving a ``with`` block) unpersists exactly the
frames the API cached.  Point reads filter every input of
``users_current`` by the user key first, so a one-user request works over
that user's rows, not the whole ledger.  Bulk ingestion goes through
``pipelines.redemption.process_redemptions`` / ``io.append_facts``
unchanged; reads here are the same view definitions that back the declared
analytic queries, so they scale with the views (dimension joins broadcast,
facts aggregate once per key).
"""

from __future__ import annotations

import datetime
from collections.abc import Iterator, Mapping, Sequence
from decimal import Decimal

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DataType,
    DecimalType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from r_e_hive__spark.functions.scalar import add_one_month, gift_code
from r_e_hive__spark.operators.relational import latest_record_wins
from r_e_hive__spark.pipelines import views
from r_e_hive__spark.pipelines.redemption import process_redemptions
from r_e_hive__spark.schemas import REHIVE_SCHEMAS

# event-sourced decision/read logs (the engine-side twins of the
# reference's UPDATE statements)
_LOG_SCHEMAS: dict[str, StructType] = {
    # PATCH /api/admin/commission-withdrawals/:id (:722-737).  ``seq`` is
    # the log's own append sequence — the unique latest-wins tiebreaker
    # when two decisions share one processed_at (determinism contract).
    "withdrawal_decisions": StructType(
        [
            StructField("withdrawal_id", LongType(), False),
            StructField("status", StringType(), False),
            StructField("admin_notes", StringType(), True),
            StructField("processed_at", TimestampType(), False),
            StructField("seq", LongType(), False),
        ]
    ),
    # PATCH /api/admin/subscription-payments/:id/{approve,reject} (:779-795, :824-830)
    "payment_decisions": StructType(
        [
            StructField("payment_id", LongType(), False),
            StructField("status", StringType(), False),
            StructField("admin_notes", StringType(), True),
            StructField("processed_at", TimestampType(), False),
            StructField("seq", LongType(), False),
        ]
    ),
    # PATCH /api/notifications/:id/read (:679-682)
    "notification_reads": StructType(
        [
            StructField("notification_id", LongType(), False),
            StructField("read_at", TimestampType(), False),
        ]
    ),
    # accepted redemption facts (drives is_redeemed + users.package_id,
    # :476-486)
    "redemptions_accepted": StructType(
        [
            StructField("event_id", LongType(), False),
            StructField("gift_code_id", LongType(), False),
            StructField("code", StringType(), False),
            StructField("user_id", StringType(), False),
            StructField("package_id", LongType(), False),
            StructField("event_ts", TimestampType(), False),
        ]
    ),
}


# Spark -> Arrow for the column types of the tables above and of
# REHIVE_SCHEMAS; timestamps travel as UTC instants (see ``_arrow_value``)
_ARROW_TYPES: dict[type, pa.DataType] = {
    LongType: pa.int64(),
    StringType: pa.string(),
    BooleanType: pa.bool_(),
    TimestampType: pa.timestamp("us", tz="UTC"),
}


def _arrow_type(t: DataType) -> pa.DataType:
    if isinstance(t, DecimalType):
        return pa.decimal128(t.precision, t.scale)
    return _ARROW_TYPES[type(t)]


def _arrow_value(v):
    """A naive ``datetime`` means process-local time, as it does for
    ``createDataFrame(list)``; pin it to its UTC instant."""
    if isinstance(v, datetime.datetime) and v.tzinfo is None:
        return v.astimezone(datetime.timezone.utc)
    return v


class ApiError(Exception):
    """Reference 4xx parity: ``status`` + the reference's message text."""

    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status
        self.message = message


class _Tables(Mapping):
    """``RehiveAPI.t``, read-only: each table's current frame, built by
    :meth:`RehiveAPI._frame` on the first read after the table changes."""

    def __init__(self, api: "RehiveAPI"):
        self._api = api

    def __getitem__(self, name: str) -> DataFrame:
        return self._api._frame(name)

    def __iter__(self) -> Iterator[str]:
        return iter(self._api._log)

    def __len__(self) -> int:
        return len(self._api._log)

    def __contains__(self, name) -> bool:
        return name in self._api._log


class RehiveAPI:
    """The reference's complete endpoint surface over event-sourced state.

    ``tables``: the nine reference tables and four event logs as
    DataFrames (missing ones default to empty driver-local frames of the
    declared schema).  A write is a Python append to a per-table
    driver-side log: it runs no Spark job and makes no JVM call.
    ``self.t[name]`` is the caller's frame ``unionByName`` one local
    relation of that log, built on the first read after the table changes
    and memoized until the next append to it, so its plan stays the same
    size however many writes pile up.  Generated ids continue a
    per-``(table, column)`` high-water mark seeded by one ``max()`` on
    first use.  Production deployments point the same logic at parquet
    fact tables via ``io.append_facts`` / ``io.append_returning``.

    Caller frames that read no files, are not local relations and are not
    cached yet are ``cache()``d here, lazily: the first action that reads
    one materializes it, and it stays cached until :meth:`close` (also
    called on leaving a ``with`` block).  ``close()`` unpersists only those
    frames; the API stays usable afterwards, its reads just re-run the
    caller's lineage.  While the API is open its cache also serves the
    caller's own uses of the same frames.
    """

    def __init__(
        self,
        spark: SparkSession,
        tables: dict[str, DataFrame],
        as_of: str,
    ):
        self.spark = spark
        self.as_of = as_of
        self.t: Mapping[str, DataFrame] = _Tables(self)
        # caller-supplied frame per table (None: the table starts empty)
        # and the rows appended since construction, in declared order
        self._base: dict[str, DataFrame | None] = {}
        self._log: dict[str, list[tuple]] = {}
        # self.t's memo: a table's frame, built on its first read after a
        # change; an append drops that table's entry
        self._frames: dict[str, DataFrame] = {}
        # (table, column) -> largest id seen; seeded on first _next_id
        self._hwm: dict[tuple[str, str], int] = {}
        # the caller frames this API cached; close() releases exactly these
        self._cached: list[DataFrame] = []
        for name in [*REHIVE_SCHEMAS, *_LOG_SCHEMAS]:
            if name == "redemption_events":
                continue  # API-internal: redeem() builds events itself
            base = tables.get(name)
            if base is not None and self._rescans_lineage(base):
                self._cached.append(base.cache())
            self._base[name] = base
            self._log[name] = []

    def close(self) -> None:
        """Unpersist the frames this API cached (and wait for their blocks
        to go); frames the caller cached stay cached."""
        for df in self._cached:
            df.unpersist(blocking=True)
        self._cached.clear()

    def __enter__(self) -> "RehiveAPI":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    @classmethod
    def from_fixtures(cls, spark: SparkSession, as_of: str | None = None) -> "RehiveAPI":
        from r_e_hive__spark import fixtures

        frames = fixtures.fixture_frames(spark)
        return cls(spark, frames, as_of or str(fixtures.AS_OF_DT))

    # ------------------------------------------------------------------
    # internals
    # ------------------------------------------------------------------

    @staticmethod
    def _schema(table: str) -> StructType:
        return REHIVE_SCHEMAS.get(table) or _LOG_SCHEMAS[table]

    @staticmethod
    def _rescans_lineage(df: DataFrame) -> bool:
        """True for a frame that re-runs its whole lineage on every scan
        and nothing caches yet: it reads no files (those keep their scans
        and pushed filters) and is not a local relation (already on the
        driver, and prunable when empty)."""
        return (
            df.storageLevel == StorageLevel.NONE
            and not df.isLocal()
            and not df.inputFiles()
        )

    def _local(self, rows: Sequence[tuple], schema: StructType) -> DataFrame:
        """``rows`` as a driver-local frame: a pyarrow table becomes a
        ``LocalRelation`` with its real size, which Catalyst can prune
        when empty and collect without a Spark job (``createDataFrame``
        of a list gives an unsized ``LogicalRDD`` instead)."""
        table = pa.table(
            {
                f.name: pa.array(
                    [_arrow_value(r[i]) for r in rows], _arrow_type(f.dataType)
                )
                for i, f in enumerate(schema.fields)
            }
        )
        return self.spark.createDataFrame(table, schema)

    def _point_read(self, df: DataFrame) -> DataFrame:
        """Run a one-user read once and keep its row on the driver:
        collecting the result again runs no job, and no executor holds its
        blocks.  404 when the user does not exist."""
        rows = df.collect()
        if not rows:
            raise ApiError(404, "User not found")
        return self._local(rows[:1], df.schema)

    def _append(self, name: str, rows: Sequence[tuple]) -> None:
        """Add ``rows`` (declared column order) to ``name``'s log, move
        its high-water marks past them, and drop its memoized frame: the
        next read of the table builds it again.  A naive ``datetime`` is
        pinned to its UTC instant here, so a row's instant does not
        depend on when the table is first read."""
        schema = self._schema(name)
        rows = [tuple(map(_arrow_value, r)) for r in rows]
        self._log[name] += rows
        for (table, col), mark in self._hwm.items():
            if table == name:
                i = schema.fieldNames().index(col)
                self._hwm[table, col] = max(
                    [mark, *(r[i] for r in rows if r[i] is not None)]
                )
        self._frames.pop(name, None)

    def _frame(self, name: str) -> DataFrame:
        """``self.t[name]``: the caller's frame ∪ one local relation of the
        log (either alone while the other is absent or empty), memoized
        until the next append to ``name``."""
        df = self._frames.get(name)
        if df is None:
            base, log = self._base[name], self._log[name]
            df = base
            if base is None or log:
                df = self._local(log, self._schema(name))
                if base is not None:
                    df = base.unionByName(df)
            self._frames[name] = df
        return df

    def _next_id(self, name: str, id_col: str = "id") -> int:
        """max(id)+1 — the single-row RETURNING lookup (io.append_returning
        contract).  The max comes from the high-water mark; seeding it
        aggregates the caller's frame once (no job for a table that
        started empty)."""
        key = (name, id_col)
        if key not in self._hwm:
            i = self._schema(name).fieldNames().index(id_col)
            seen = [r[i] for r in self._log[name]]
            if self._base[name] is not None:
                seen.append(self._base[name].agg(F.max(id_col)).collect()[0][0])
            self._hwm[key] = max((v for v in seen if v is not None), default=0)
        return self._hwm[key] + 1

    def _row(self, table: str, **values) -> tuple:
        """One literal row in ``table``'s declared column order (unset
        nullable fields → NULL)."""
        return tuple(values.get(f.name) for f in self._schema(table).fields)

    def _write(self, table: str, **values) -> list[tuple]:
        """Append one literal row; returns it (the RETURNING row)."""
        row = [self._row(table, **values)]
        self._append(table, row)
        return row

    def _first(self, df: DataFrame):
        """The first row of a key lookup, or None.  Every caller filters
        to at most a few rows, so the frame is collected whole: a
        ``limit(1)`` would scan partitions one batch at a time and start a
        second job whenever the row is not in the first partition."""
        rows = df.collect()
        return rows[0] if rows else None

    # ------------------------------------------------------------------
    # derived current-state views (S5: every reference UPDATE, as a view)
    # ------------------------------------------------------------------

    def gift_codes_current(self) -> DataFrame:
        """gift_codes with is_redeemed/redeemed_by/redeemed_at derived from
        accepted-redemption facts (:476-482's UPDATE, as a view).  Codes
        already marked redeemed in the base table stay redeemed."""
        base = self.t["gift_codes"]
        cur = views.gift_codes_current(
            base,
            self.t["redemptions_accepted"].select(
                "code", "user_id", F.col("event_ts"), "event_id"
            ),
        )
        # a base-table redemption (imported state) wins over "no event"
        b = base.select(
            "id",
            F.col("is_redeemed").alias("_b_red"),
            F.col("redeemed_by").alias("_b_by"),
            F.col("redeemed_at").alias("_b_at"),
        )
        return (
            cur.join(b, "id")
            .withColumn("is_redeemed", F.col("is_redeemed") | F.col("_b_red"))
            .withColumn("redeemed_by", F.coalesce(F.col("redeemed_by"), F.col("_b_by")))
            .withColumn("redeemed_at", F.coalesce(F.col("redeemed_at"), F.col("_b_at")))
            .drop("_b_red", "_b_by", "_b_at")
        )

    def withdrawals_current(self) -> DataFrame:
        """commission_withdrawals with latest decision applied (:722-737's
        UPDATE, as a view)."""
        return self._with_decisions(
            "commission_withdrawals", "withdrawal_decisions", "withdrawal_id"
        )

    def subscription_payments_current(self) -> DataFrame:
        """subscription_payments with latest decision applied (:779-795 /
        :824-830's UPDATEs, as a view)."""
        return self._with_decisions(
            "subscription_payments", "payment_decisions", "payment_id"
        )

    def _with_decisions(self, base: str, log: str, fk: str) -> DataFrame:
        d = latest_record_wins(
            self.t[log], [fk], [F.desc("processed_at"), F.desc("seq")]
        ).select(
            F.col(fk).alias("id"),
            F.col("status").alias("_d_status"),
            F.col("admin_notes").alias("_d_notes"),
            F.col("processed_at").alias("_d_at"),
        )
        return (
            self.t[base]
            .join(d, "id", "left")
            .withColumn("status", F.coalesce(F.col("_d_status"), F.col("status")))
            .withColumn(
                "admin_notes", F.coalesce(F.col("_d_notes"), F.col("admin_notes"))
            )
            .withColumn(
                "processed_at", F.coalesce(F.col("_d_at"), F.col("processed_at"))
            )
            .drop("_d_status", "_d_notes", "_d_at")
        )

    def notifications_current(self) -> DataFrame:
        """notifications with is_read derived from the read-event log
        (:679-682's UPDATE, as a view)."""
        reads = self.t["notification_reads"].select(
            F.col("notification_id").alias("id"), F.lit(True).alias("_read_ev")
        ).dropDuplicates(["id"])
        return (
            self.t["notifications"]
            .join(reads, "id", "left")
            .withColumn(
                "is_read", F.col("is_read") | F.coalesce(F.col("_read_ev"), F.lit(False))
            )
            .drop("_read_ev")
        )

    def users_current(self, user_id: str | None = None) -> DataFrame:
        """users + every derived mutable field: commission_balance (Σ
        ledger − Σ approved withdrawals), package_id (latest accepted
        redemption wins), subscription status/expiry/last-payment (latest
        approved subscription payment wins, +1 month — :779-795).

        ``user_id``: the point read.  Every input is filtered to that
        user's rows before the view is built; each join and aggregate in
        it is keyed by user, so the row is the one the full view holds,
        and the key reaches every scan (a filter above the view would stop
        at the balances' full outer join)."""
        def mine(df: DataFrame, key: str = "user_id") -> DataFrame:
            if user_id is None:
                return df
            return df.where(F.col(key) == F.lit(user_id))

        approvals = (
            mine(self.t["subscription_payments"])
            .select("id", "user_id")
            .join(
                self.t["payment_decisions"].where(F.col("status") == "approved"),
                F.col("id") == F.col("payment_id"),
            )
            .select("user_id", "processed_at", "seq")
        )
        latest_appr = latest_record_wins(
            approvals, ["user_id"], [F.desc("processed_at"), F.desc("seq")]
        ).select(
            F.col("user_id").alias("_au"), F.col("processed_at").alias("_appr_at")
        )
        users = (
            mine(self.t["users"], "id")
            .join(latest_appr, F.col("id") == F.col("_au"), "left")
            .withColumn(
                "subscription_expires_at",
                F.coalesce(add_one_month(F.col("_appr_at")),
                           F.col("subscription_expires_at")),
            )
            .withColumn(
                "last_subscription_payment",
                F.coalesce(F.col("_appr_at"), F.col("last_subscription_payment")),
            )
            .drop("_au", "_appr_at")
        )
        return views.users_current(
            users,
            mine(self.t["commissions"]),
            mine(self.withdrawals_current()),
            self.as_of,
            accepted_redemptions=mine(self.t["redemptions_accepted"]).select(
                "user_id", "package_id", "event_ts", "event_id"
            ),
        )

    def _with_package(self, df: DataFrame, on: str = "package_id") -> DataFrame:
        """Drizzle's ``with: {package: true}`` relation load: broadcast
        left join, package columns prefixed ``package_`` (J1).  The
        caller's FK column keeps its name; the package's own ``id`` is
        dropped after the join (it equals the FK wherever matched)."""
        pkg = self.t["packages"].select(
            F.col("id").alias("__pkg_id"),
            *[
                F.col(c).alias(f"package_{c}")
                for c in self.t["packages"].columns
                if c != "id"
            ],
        )
        return df.join(F.broadcast(pkg), df[on] == pkg["__pkg_id"], "left").drop(
            "__pkg_id"
        )

    # ------------------------------------------------------------------
    # generic Drizzle-shaped relational builder (SURVEY.md §3.1: "the API
    # stays DataFrame-builder-shaped (like Drizzle) plus raw SQL")
    # ------------------------------------------------------------------

    # relation registry mirroring the reference's Drizzle `relations`
    # declarations: relation name -> (target table, fk on source, pk)
    _RELATIONS: dict[tuple[str, str], tuple[str, str, str]] = {
        ("users", "package"): ("packages", "package_id", "id"),
        ("referrals", "referred"): ("users", "referred_id", "id"),
        ("referrals", "referrer"): ("users", "referrer_id", "id"),
        ("gift_codes", "package"): ("packages", "package_id", "id"),
        ("gift_codes", "redeemer"): ("users", "redeemed_by", "id"),
        ("commissions", "user"): ("users", "user_id", "id"),
        ("commission_withdrawals", "user"): ("users", "user_id", "id"),
        ("subscription_payments", "user"): ("users", "user_id", "id"),
        ("notifications", "user"): ("users", "user_id", "id"),
    }

    def current(self, table: str) -> DataFrame:
        """The table's CURRENT view — derived state where the reference
        mutates in place, the raw frame elsewhere."""
        views_ = {
            "users": self.users_current,
            "gift_codes": self.gift_codes_current,
            "commission_withdrawals": self.withdrawals_current,
            "subscription_payments": self.subscription_payments_current,
            "notifications": self.notifications_current,
        }
        if table in views_:
            return views_[table]()
        if table not in self.t:
            raise ApiError(404, f"Unknown table {table!r}")
        return self.t[table]

    def find_many(
        self,
        table: str,
        where: dict | Column | None = None,
        order_by: Sequence[tuple[str, str] | str] = (),
        limit: int | None = None,
        with_: dict | None = None,
    ) -> DataFrame:
        """Drizzle's ``db.query.<t>.findMany({where, with, orderBy,
        limit})`` shape (e.g. render-complete-deploy.js:386-394).

        ``where``: {col: value} equality conjunction (eq/and — the only
        predicates the reference builds) or a raw Column for anything
        richer.  ``with_``: {relation: True | nested dict} relation loads
        from the registry; loaded columns arrive prefixed ``{rel}_``,
        nested loads compose prefixes (``referred_package_price``).
        Everything compiles to the same broadcast-left-join + filter +
        TakeOrderedAndProject plans as the named endpoints."""
        df = self.current(table)
        for rel, spec in (with_ or {}).items():
            key = (table, rel)
            if key not in self._RELATIONS:
                raise ApiError(400, f"Unknown relation {rel!r} on {table!r}")
            target, fk, pk = self._RELATIONS[key]
            if isinstance(spec, dict):  # nested relation load (J2 shape)
                inner = self.find_many(target, with_=spec)
            else:
                inner = self.current(target)
            aliased = inner.select(
                *[F.col(c).alias(f"{rel}_{c}") for c in inner.columns]
            )
            side = (
                F.broadcast(aliased) if target == "packages" else aliased
            )
            # drop by Column reference, not name: for the `user` relation
            # the aliased pk is literally "user_id" — a name-based drop
            # would also delete the source fk column
            df = df.join(
                side, df[fk] == aliased[f"{rel}_{pk}"], "left"
            ).drop(aliased[f"{rel}_{pk}"])
        if isinstance(where, dict):
            for c, v in where.items():
                df = df.where(F.col(c).eqNullSafe(F.lit(v)))
        elif where is not None:
            df = df.where(where)
        if order_by:
            exprs = []
            for o in order_by:
                if isinstance(o, str):
                    exprs.append(F.asc(o))
                else:
                    c, d = o
                    exprs.append(F.desc(c) if d.lower() == "desc" else F.asc(c))
            df = df.orderBy(*exprs)
        if limit is not None:
            df = df.limit(limit)
        return df

    def find_first(self, table: str, **kwargs) -> DataFrame:
        """Drizzle ``findFirst`` — LIMIT 1 (S2 point-lookup shape)."""
        return self.find_many(table, **kwargs).limit(1)

    def insert(self, table: str, values: dict) -> DataFrame:
        """Generic ``db.insert(t).values({...}).returning()`` (S4).

        Serial (long) pks auto-assign ``max(existing)+1``; the uuid-pk
        ``users`` table requires a caller-supplied ``id`` — the engine
        never draws random uuids on a hash-checked path (F15), exactly as
        fixtures pre-generate them.  A supplied ``id`` always wins, and
        later auto-assigned ids continue past it."""
        if table not in REHIVE_SCHEMAS or table == "redemption_events":
            raise ApiError(400, f"Cannot insert into {table!r}")
        vals = dict(values)
        if "id" not in vals:
            pk_type = REHIVE_SCHEMAS[table]["id"].dataType
            if isinstance(pk_type, LongType):
                vals["id"] = self._next_id(table)
            else:
                raise ApiError(
                    400,
                    f"{table!r} has a non-serial pk: supply an explicit id "
                    "(F15 — ids come from data, never rand/uuid)",
                )
        return self._local(self._write(table, **vals), self._schema(table))

    def sql(self, query: str) -> DataFrame:
        """Raw-SQL escape hatch (F17): every table's CURRENT view is
        registered as ``api_<table>`` before the query runs, so the
        event-sourced derivations are visible to plain Spark SQL."""
        for name in REHIVE_SCHEMAS:
            if name == "redemption_events":
                continue
            self.current(name).createOrReplaceTempView(f"api_{name}")
        return self.spark.sql(query)

    # ------------------------------------------------------------------
    # read endpoints
    # ------------------------------------------------------------------

    def get_user(self, user_id: str) -> DataFrame:
        """GET /api/users/me · /api/users/:id (:343-382): user + package
        relation load.  404 if absent."""
        # one execution serves the existence probe and the caller's
        # collect (round-5 review)
        return self._point_read(self._with_package(self.users_current(user_id)))

    def get_user_referrals(self, user_id: str) -> DataFrame:
        """GET /api/users/:id/referrals (:384-401): 2-level relation load
        (referred user → package), newest first (J2)."""
        refs = self.t["referrals"].where(F.col("referrer_id") == F.lit(user_id))
        uc = self.users_current()
        referred = uc.select(
            *[F.col(c).alias(f"referred_user_{c}") for c in uc.columns]
        )
        joined = refs.join(
            referred, refs["referred_id"] == referred["referred_user_id"], "left"
        )
        out = self._with_package(joined, on="referred_user_package_id")
        return out.orderBy(F.desc("created_at"), F.desc("id"))

    def get_packages(self) -> DataFrame:
        """GET /api/packages (:403-413): all packages by ascending price
        (O2; id tiebreak for determinism)."""
        return self.t["packages"].orderBy(F.asc("price"), F.asc("id"))

    def get_gift_codes(self, user_id: str) -> DataFrame:
        """GET /api/gift-codes/:userId (:438-454): creator's codes with
        package + redeemer relation loads, newest first (J3)."""
        codes = self.gift_codes_current().where(
            F.col("created_by") == F.lit(user_id)
        )
        redeemer = self.t["users"].select(
            F.col("id").alias("_rid"),
            F.col("full_name").alias("redeemer_full_name"),
            F.col("email").alias("redeemer_email"),
        )
        out = self._with_package(codes).join(
            redeemer, codes["redeemed_by"] == redeemer["_rid"], "left"
        ).drop("_rid")
        return out.orderBy(F.desc("created_at"), F.desc("id"))

    def get_commission_history(self, user_id: str, limit: int = 100) -> DataFrame:
        """GET /api/commission-history/:userId (:510-523): latest
        ``limit`` ledger rows (W1 shape; id tiebreak)."""
        return (
            self.t["commissions"]
            .where(F.col("user_id") == F.lit(user_id))
            .orderBy(F.desc("created_at"), F.desc("id"))
            .limit(limit)
        )

    def get_withdrawals(self, user_id: str) -> DataFrame:
        """GET /api/commission-withdrawals?userId= (:562-580)."""
        return (
            self.withdrawals_current()
            .where(F.col("user_id") == F.lit(user_id))
            .orderBy(F.desc("created_at"), F.desc("id"))
        )

    def get_subscription_status(self, user_id: str) -> DataFrame:
        """GET /api/subscription/status?userId= (:582-610): the derived
        {status, expires_at, last_payment} projection (P7/F11 vs as_of)."""
        # single execution for probe + result (round-5 review)
        return self._point_read(self.users_current(user_id)).select(
            F.col("subscription_status").alias("status"),
            F.col("subscription_expires_at").alias("expires_at"),
            F.col("last_subscription_payment").alias("last_payment"),
        )

    def get_subscription_payments(self, user_id: str) -> DataFrame:
        """GET /api/subscription/payments?userId= (:642-660)."""
        return (
            self.subscription_payments_current()
            .where(F.col("user_id") == F.lit(user_id))
            .orderBy(F.desc("created_at"), F.desc("id"))
        )

    def get_notifications(self, user_id: str, limit: int = 50) -> DataFrame:
        """GET /api/notifications/:userId (:662-675): latest ``limit``."""
        return (
            self.notifications_current()
            .where(F.col("user_id") == F.lit(user_id))
            .orderBy(F.desc("created_at"), F.desc("id"))
            .limit(limit)
        )

    def admin_withdrawals(self) -> DataFrame:
        """GET /api/admin/commission-withdrawals (:691-703): all
        withdrawals with the user relation load (J4)."""
        return self._admin_list(self.withdrawals_current())

    def admin_subscription_payments(self) -> DataFrame:
        """GET /api/admin/subscription-payments (:753-765)."""
        return self._admin_list(self.subscription_payments_current())

    def _admin_list(self, facts: DataFrame) -> DataFrame:
        u = self.t["users"].select(
            F.col("id").alias("_uid"),
            F.col("full_name").alias("user_full_name"),
            F.col("email").alias("user_email"),
        )
        return (
            facts.join(u, facts["user_id"] == u["_uid"], "left")
            .drop("_uid")
            .orderBy(F.desc("created_at"), F.desc("id"))
        )

    # ------------------------------------------------------------------
    # write endpoints (append events; views derive)
    # ------------------------------------------------------------------

    def create_gift_code(self, package_id: int, user_id: str, ts) -> DataFrame:
        """POST /api/gift-codes (:415-436): deterministic code (F7 — the
        engine's seeded reformulation of generateGiftCode :198-205),
        insert-RETURNING."""
        new_id = self._next_id("gift_codes")
        schema = self._schema("gift_codes")
        rows = self._local(
            [
                self._row(
                    "gift_codes",
                    id=new_id,
                    code="",  # assigned below from the seed
                    package_id=int(package_id),
                    created_by=user_id,
                    is_redeemed=False,
                    created_at=ts,
                )
            ],
            schema,
        ).withColumn(
            "code",
            gift_code(F.concat_ws("|", F.lit(user_id), F.lit(new_id), F.col("created_at"))),
        ).collect()  # the generated code, computed once on the driver
        self._append("gift_codes", rows)
        return self._local(rows, schema)

    def redeem_gift_code(
        self, code: str, user_id: str, ts, referral_code: str | None = None
    ) -> dict:
        """POST /api/redeem-gift-code (:456-508): the full commission
        pipeline on one event against current state.  Raises the
        reference's 404 (invalid/redeemed code) / 400 (self-redemption)."""
        event_id = self._next_id("redemptions_accepted", "event_id")
        event = self._local(
            [(event_id, code, user_id, referral_code, ts)],
            REHIVE_SCHEMAS["redemption_events"],
        )
        out = process_redemptions(
            event,
            self.gift_codes_current(),
            self.users_current(),
            self.t["packages"],
            self.t["referrals"],
        )
        rej = self._first(out.rejected)
        if rej is not None:
            if rej["reject_reason"] == "self_redemption":
                raise ApiError(400, "Cannot redeem your own gift code")
            raise ApiError(404, "Invalid or already redeemed gift code")

        accepted = self._first(out.accepted)
        if accepted is None:
            # the code points at a nonexistent package: the reference still
            # redeems the code and re-points the user (:476-486) but
            # processCommissions early-returns (:214 `if (!packageData)
            # return`) — no ledger/notifications/profit.  The pipeline's
            # package inner-join dropped the event, so replay just the
            # redemption fact here.
            gc = self._first(
                self.gift_codes_current().where(F.col("code") == F.lit(code))
            )
            self._write(
                "redemptions_accepted",
                event_id=event_id,
                gift_code_id=gc["id"],
                code=code,
                user_id=user_id,
                package_id=gc["package_id"],
                event_ts=ts,
            )
            return {"message": "Gift code redeemed successfully"}
        self._write(
            "redemptions_accepted",
            event_id=event_id,
            gift_code_id=accepted["gift_code_id"],
            code=code,
            user_id=user_id,
            package_id=accepted["package_id"],
            event_ts=ts,
        )
        # referral edge (:494-497).  Parity note: the engine keeps AT MOST
        # ONE inbound edge per user (the pipeline's pinned deterministic
        # semantic — the reference inserts unconditionally but its upline
        # walk reads only findFirst's single edge, :263-267, so extra
        # edges are unreachable state there; here they are simply not
        # written, keeping get_user_referrals consistent with what the
        # commission engine actually pays through).
        ref_base = self._next_id("referrals") - 1
        self._seq_append(
            "referrals",
            out.new_referrals.select("referrer_id", "referred_id", "created_at"),
            ref_base,
            [F.asc("referred_id")],
        )
        # ledger (:218-224, :277-283)
        led_base = self._next_id("commissions") - 1
        self._seq_append(
            "commissions",
            out.commission_ledger.select(
                "user_id", "amount", "type", "source_user_id", "gift_code_id",
                "created_at",
            ),
            led_base,
            [F.asc("level"), F.asc("user_id")],
            order_source=out.commission_ledger,
        )
        # notifications (:234-239, :291-295)
        notif_base = self._next_id("notifications") - 1
        self._seq_append(
            "notifications",
            out.notifications,
            notif_base,
            [F.asc("user_id"), F.asc("message")],
        )
        # company profit (:303-311)
        prof_base = self._next_id("company_profits") - 1
        self._seq_append(
            "company_profits",
            out.company_profits.select(
                "amount", "source_type", "source_id", "commission_paid",
                "is_withdrawn", "created_at",
            ),
            prof_base,
            [F.asc("source_id")],
        )
        return {"message": "Gift code redeemed successfully"}

    def _seq_append(
        self, table: str, rows: DataFrame, base: int, order, order_source=None
    ) -> None:
        """Append ``rows`` with ids base+1.. over a declared order (the
        append_returning id rule); single-event batches are tiny, so the
        single-window path applies and the rows are collected before the
        state changes."""
        from r_e_hive__spark.io import sequence_ids

        src = order_source if order_source is not None else rows
        with_id = (
            sequence_ids(src, order, out_col="_seq", distributed=False)
            .withColumn("id", (F.lit(base) + F.col("_seq")).cast("long"))
            .drop("_seq")
        )
        keep = ["id", *rows.columns]
        schema = REHIVE_SCHEMAS[table]
        aligned = with_id.select(
            *[
                (F.col(f.name) if f.name in keep else F.lit(None))
                .cast(f.dataType)
                .alias(f.name)
                for f in schema.fields
            ]
        )
        self._append(table, aligned.collect())

    def request_withdrawal(
        self,
        user_id: str,
        amount,
        ts,
        payment_method: str | None = None,
        payment_details: str | None = None,
    ) -> DataFrame:
        """POST /api/commission-withdrawals (:525-560): balance-sufficiency
        guard against the DERIVED balance, then insert-RETURNING a pending
        request.  400 on insufficient balance, 404 on unknown user."""
        u = self._first(self.users_current(user_id).select("commission_balance"))
        if u is None:
            raise ApiError(404, "User not found")
        if u["commission_balance"] < Decimal(str(amount)):
            raise ApiError(400, "Insufficient commission balance")
        row = self._write(
            "commission_withdrawals",
            id=self._next_id("commission_withdrawals"),
            user_id=user_id,
            amount=Decimal(str(amount)).quantize(Decimal("0.01")),
            status="pending",
            payment_method=payment_method or "bank_transfer",  # :551 default
            payment_details=payment_details,
            created_at=ts,
        )
        return self._local(row, self._schema("commission_withdrawals"))

    def process_withdrawal(
        self, withdrawal_id: int, status: str, ts, admin_notes: str | None = None
    ) -> dict:
        """PATCH /api/admin/commission-withdrawals/:id (:705-751): append a
        decision event; the balance debit and status are views.  400 on a
        status outside {approved, rejected}; 404 on unknown id."""
        if status not in ("approved", "rejected"):
            raise ApiError(400, "Invalid status")
        w = self._first(
            self.withdrawals_current().where(F.col("id") == F.lit(int(withdrawal_id)))
        )
        if w is None:
            raise ApiError(404, "Withdrawal not found")
        self._write(
            "withdrawal_decisions",
            withdrawal_id=int(withdrawal_id),
            status=status,
            admin_notes=admin_notes,
            processed_at=ts,
            seq=self._next_id("withdrawal_decisions", "seq"),
        )
        # title: the JS capitalize (:741); message parity with the JS
        # template literal (:742): the raw canonical 2-dp amount, no
        # thousands separators
        self._notify(
            w["user_id"],
            title="Withdrawal " + status[:1].upper() + status[1:],
            message=f"Your withdrawal request for ${w['amount']} has been {status}",
            type_="withdrawal",
            ts=ts,
        )
        return {"message": f"Withdrawal {status} successfully"}

    def pay_subscription(self, user_id: str, ts, proof_url: str | None = None) -> DataFrame:
        """POST /api/subscription/pay (:612-640): $50.00 pending payment +
        submission notification, insert-RETURNING."""
        row = self._write(
            "subscription_payments",
            id=self._next_id("subscription_payments"),
            user_id=user_id,
            amount=Decimal("50.00"),  # :623 fixed fee
            payment_proof_url=proof_url,
            status="pending",
            created_at=ts,
        )
        self._notify(
            user_id,
            title="Subscription Payment Submitted",
            message="Your subscription payment has been submitted for review",
            type_="payment",
            ts=ts,
        )
        return self._local(row, self._schema("subscription_payments"))

    def approve_subscription_payment(self, payment_id: int, ts) -> dict:
        """PATCH /api/admin/subscription-payments/:id/approve (:767-809):
        decision event; subscription activation (+1 month) is a view."""
        return self._decide_payment(payment_id, "approved", ts, None,
                                    "Subscription Activated",
                                    "Your subscription payment has been approved "
                                    "and your subscription is now active",
                                    "subscription")

    def reject_subscription_payment(
        self, payment_id: int, ts, admin_notes: str | None = None
    ) -> dict:
        """PATCH /api/admin/subscription-payments/:id/reject (:811-844)."""
        msg = (
            f"Your subscription payment has been rejected. "
            f"{admin_notes or 'Please contact support for more information.'}"
        )
        return self._decide_payment(
            payment_id, "rejected", ts, admin_notes,
            "Subscription Payment Rejected", msg, "subscription",
        )

    def _decide_payment(self, payment_id, status, ts, notes, title, msg, typ) -> dict:
        p = self._first(
            self.t["subscription_payments"].where(F.col("id") == F.lit(int(payment_id)))
        )
        if p is None:
            raise ApiError(404, "Payment not found")
        self._write(
            "payment_decisions",
            payment_id=int(payment_id),
            status=status,
            admin_notes=notes,
            processed_at=ts,
            seq=self._next_id("payment_decisions", "seq"),
        )
        self._notify(p["user_id"], title, msg, typ, ts)
        return {"message": f"Subscription payment {status}"}

    def add_commission(
        self, user_id: str, amount, type_: str, ts, description: str | None = None
    ) -> dict:
        """POST /api/admin/add-commission (:846-878): append a ledger row;
        balance is the view."""
        amt = Decimal(str(amount)).quantize(Decimal("0.01"))
        self._write(
            "commissions",
            id=self._next_id("commissions"),
            user_id=user_id,
            amount=amt,
            type=type_,
            created_at=ts,
        )
        # :869 template literal parity: the RAW request amount (the ledger
        # row carries the quantized decimal, the message shows what the
        # caller sent, exactly as the JS interpolates req.body.amount);
        # trailing space survives an absent description as in JS
        self._notify(
            user_id,
            title="Commission Added",
            message=(
                f"${amount} {type_} commission has been added to your account. "
                f"{description or ''}"
            ),
            type_="commission",
            ts=ts,
        )
        return {"message": "Commission added successfully"}

    def mark_notification_read(self, notification_id: int, ts) -> dict:
        """PATCH /api/notifications/:id/read (:677-689): a read event; the
        flag is a view."""
        self._write(
            "notification_reads",
            notification_id=int(notification_id),
            read_at=ts,
        )
        return {"message": "Notification marked as read"}

    def _notify(self, user_id, title: str, message: str, type_, ts) -> None:
        """Append one notification row (the reference's synchronous fan-out
        insert, :234-239 et al.)."""
        self._write(
            "notifications",
            id=self._next_id("notifications"),
            user_id=user_id,
            title=title,
            message=message,
            type=type_,
            is_read=False,
            created_at=ts,
        )
