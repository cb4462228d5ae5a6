"""Client facade: the reference's public API surface, Spark-native.

``FinanceWarehouse`` exposes the same method names a user of the
reference's client calls (monarchmoney.py public surface — each method
cites its reference site), but every read is a DataFrame over a parquet
warehouse and every mutation a table rewrite via the maintenance merges.
A user of the reference can switch: same verbs, same filter surface,
same output semantics — the remote GraphQL server's work now happens in
Spark.

Auth/MFA/session-pickling methods are deliberately absent (transport
plumbing, SURVEY.md §7.6); refresh-polling degenerates to a no-op since
there is no remote sync to wait for.

Warehouse layout: one parquet table per entity under ``root``:
``accounts transactions categories category_groups tags balances
recurring control``. Tables are created on demand (K5).
"""

from __future__ import annotations

import datetime as dt
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.operators.aggregates import (
    cashflow_report,
    cashflow_summary,
    monthly_rollup,
    transactions_summary,
)
from dieter___etl___monarchmoney_spark.operators.budgets import budget_pipeline
from dieter___etl___monarchmoney_spark.operators.maintenance import (
    delete_rows,
    insert_rows,
    update_field_where,
    update_splits,
    upsert_rows,
)
from dieter___etl___monarchmoney_spark.operators.transactions import (
    point_lookup,
    transactions_query,
)
from dieter___etl___monarchmoney_spark.sources.sinks import read_sink


class FinanceWarehouse:
    """Spark-native replacement for the reference's ``MonarchMoney``
    client: reads are lazy DataFrames, writes are merge-then-overwrite."""

    TABLES = (
        "accounts",
        "transactions",
        "categories",
        "category_groups",
        "tags",
        "balances",
        "recurring",
        "budgets",
        "subscription",
    )

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # -- plumbing ----------------------------------------------------------

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def table(self, name: str) -> DataFrame:
        return read_sink(self.spark, self._path(name))

    def save(self, name: str, df: DataFrame) -> None:
        """Overwrite safely even when ``df`` reads from the same path —
        staged write + Hadoop-FileSystem swap (object-store-portable).
        CRUD mutations rewrite the whole entity table because parquet
        has no row-level ops; the *windowed* load path never does this —
        etl.py's transactions_stage overwrites only the reload window's
        partitions (streaming/incremental.py:overwrite_window_partitions).
        """
        from dieter___etl___monarchmoney_spark.sources.sinks import staged_overwrite

        staged_overwrite(df, self._path(name))

    # -- account reads (monarchmoney.py:130-354, 725-1022) -----------------

    def get_accounts(self) -> DataFrame:
        """monarchmoney.py:130-212."""
        return self.table("accounts")

    def get_account_type_options(self) -> DataFrame:
        """monarchmoney.py:214-246 — one row per account type with its
        possible subtypes (``accountTypeOptions[].type.possibleSubtypes``;
        golden fixture tests/get_account_type_options.json, 10 entries
        with ``loan`` duplicated server-side — a distinct matrix yields
        the 9 unique types). Ordered by type name for determinism; the
        server's display ordering is presentation, not data."""
        return (
            self.table("accounts")
            .select("type", "subtype")
            # no .distinct() first: collect_set already dedups per
            # type, and the extra distinct is a whole second shuffle
            .groupBy("type")
            .agg(F.sort_array(F.collect_set("subtype")).alias("possibleSubtypes"))
            .orderBy("type")
        )

    def get_recent_account_balances(self, start_date: str) -> DataFrame:
        """monarchmoney.py:248-274."""
        return self.table("balances").filter(F.col("date") >= F.lit(start_date))

    def get_account_snapshots_by_type(self, start_date: str, timeframe: str) -> DataFrame:
        """monarchmoney.py:276-311; timeframe ∈ {'month','year'}."""
        if timeframe not in ("month", "year"):
            raise ValueError(f"Unknown timeframe: {timeframe}")
        balances = self.table("balances").filter(F.col("date") >= F.lit(start_date))
        return monthly_rollup(balances, "date", "balance", ["accountType"], timeframe)

    def get_aggregate_snapshots(
        self, start_date: str | None = None, end_date: str | None = None
    ) -> DataFrame:
        """monarchmoney.py:313-354 — daily net worth across accounts."""
        balances = self.table("balances")
        if start_date:
            balances = balances.filter(F.col("date") >= F.lit(start_date))
        if end_date:
            balances = balances.filter(F.col("date") <= F.lit(end_date))
        from dieter___etl___monarchmoney_spark.functions.money import money_sum

        return balances.groupBy("date").agg(money_sum("balance").alias("balance"))

    def get_account_history(self, account_id) -> DataFrame:
        """monarchmoney.py:795-1022 — per-account daily snapshots,
        enriched with the account name (J5)."""
        hist = self.table("balances").filter(F.col("account_id") == F.lit(account_id))
        acc = self.table("accounts").select(
            F.col("id").alias("account_id"), F.col("displayName").alias("accountName")
        )
        return hist.join(F.broadcast(acc), "account_id", "left")

    def get_account_holdings(self, account_id) -> DataFrame:
        """monarchmoney.py:725-793 — holdings connection for an account
        (golden shape tests/get_account_holdings.json:1-45). The
        warehouse's position history lives in ``balances``; this packs
        the account's latest snapshot per position type into the
        reference's ``edges[].node`` envelope and unwraps it through the
        production F14 path (functions/nested.py:unwrap_connection),
        with the W4 one-day change lag from the prior snapshot (NULL on
        a first observation, matching the fixture's null
        securityPriceChange*)."""
        from pyspark.sql import Window

        from dieter___etl___monarchmoney_spark.functions.nested import (
            unwrap_connection,
        )

        hist = self.table("balances").filter(
            F.col("account_id") == F.lit(account_id)
        )
        w = Window.partitionBy("account_id", "accountType").orderBy("date")
        latest = Window.partitionBy("account_id", "accountType").orderBy(
            F.col("date").desc()
        )
        snap = (
            hist.withColumn(
                "one_day_change", F.col("balance") - F.lag("balance").over(w)
            )
            .withColumn("rn", F.row_number().over(latest))
            .filter(F.col("rn") == 1)
        )
        node = F.struct(
            F.col("account_id"),
            F.col("accountType").alias("type_display"),
            F.col("balance").alias("total_value"),
            F.col("one_day_change"),
            F.col("date").alias("last_synced_at"),
        )
        conn = snap.groupBy("account_id").agg(
            F.collect_list(F.struct(node.alias("node"))).alias("edges")
        )
        return unwrap_connection(conn.select("edges"))

    def get_institutions(self) -> DataFrame:
        """monarchmoney.py:1024-1107."""
        return self.table("accounts").select("institutionName").distinct()

    # -- budgets (monarchmoney.py:1109-1342) -------------------------------

    def get_budgets(
        self,
        start_date: str | None = None,
        end_date: str | None = None,
        **_: object,
    ) -> DataFrame:
        """monarchmoney.py:1109-1342 — the flattened budget tree (category
        rows + group rollups + total rows, with rollover/remaining/
        cumulative math) for a month window. Defaults mirror the
        reference (monarchmoney.py:1307-1331): first day of last month →
        last day of next month; one-sided input raises the reference's
        error (monarchmoney.py:1333-1336). The ``use_*_goals`` kwargs are
        accepted for signature parity and ignored (goals are not a
        warehouse entity)."""
        if (start_date is None) != (end_date is None):
            raise Exception(
                "You must specify both a startDate and endDate, not just one of them."
            )
        if start_date is None:
            import calendar

            today = dt.date.today()
            last_m = today.month - 1 or 12
            last_y = today.year - (1 if today.month == 1 else 0)
            start_date = dt.date(last_y, last_m, 1).isoformat()
            next_m = 1 if today.month == 12 else today.month + 1
            next_y = today.year + (1 if today.month == 12 else 0)
            end_date = dt.date(
                next_y, next_m, calendar.monthrange(next_y, next_m)[1]
            ).isoformat()
        rows = self.table("budgets").filter(
            F.col("Month").between(F.lit(start_date), F.lit(end_date))
        )
        return budget_pipeline(rows)

    def get_subscription_details(self) -> DataFrame:
        """monarchmoney.py:1344-1365 — the household's subscription row
        (id, paymentSource, referralCode, isOnFreeTrial,
        hasPremiumEntitlement)."""
        return self.table("subscription")

    # -- transaction reads (monarchmoney.py:1367-1554, 1979-2177) ----------

    def get_transactions_summary(self) -> DataFrame:
        """monarchmoney.py:1367-1401 — the 9-field aggregate."""
        return transactions_summary(
            self.table("transactions").withColumnRenamed("date", "txn_date")
        )

    def get_transactions(
        self,
        limit: int = 100,
        offset: int = 0,
        start_date: str | None = None,
        end_date: str | None = None,
        search: str = "",
        category_ids: Sequence | None = None,
        account_ids: Sequence | None = None,
        tag_ids: Sequence | None = None,
        has_attachments: bool | None = None,
        has_notes: bool | None = None,
        hidden_from_reports: bool | None = None,
        is_split: bool | None = None,
        is_recurring: bool | None = None,
    ) -> DataFrame:
        """monarchmoney.py:1403-1554 — the full filter surface, same
        defaults (limit=100), same both-or-neither date validation."""
        # the tag filter lives INSIDE transactions_query (before
        # pagination, like every other predicate) — the round-7 fix is
        # structural for every caller, not an API-local patch
        txns = self.table("transactions")
        df = transactions_query(
            txns.withColumnRenamed("date", "txn_date"),
            start_date=start_date,
            end_date=end_date,
            search=search or None,
            search_columns=("plaidName", "notes") if search else (),
            category_ids=category_ids,
            account_ids=account_ids,
            tag_ids=tag_ids,
            flags={
                "hasAttachments": has_attachments,
                "hasNotes": has_notes,
                "hideFromReports": hidden_from_reports,
                "isSplitTransaction": is_split,
                "isRecurring": is_recurring,
            },
            order_by=("txn_date", "id"),
            offset=offset,
            limit=limit,
        )
        return df.withColumnRenamed("txn_date", "date")

    def get_transaction_details(self, transaction_id) -> DataFrame:
        """monarchmoney.py:1979-2127."""
        return point_lookup(self.table("transactions"), "id", transaction_id)

    def get_transaction_splits(self, transaction_id) -> DataFrame:
        """monarchmoney.py:2129-2177."""
        return self.table("transactions").filter(
            F.col("parent_id") == F.lit(transaction_id)
        )

    # -- dim reads (monarchmoney.py:1664-1922, 1344-1365) -------------------

    def get_transaction_categories(self) -> DataFrame:
        """monarchmoney.py:1664-1696."""
        return self.table("categories")

    def get_transaction_category_groups(self) -> DataFrame:
        """monarchmoney.py:1749-1770."""
        return self.table("category_groups")

    def get_transaction_tags(self) -> DataFrame:
        """monarchmoney.py:1898-1922 — with live transactionCount (A7)."""
        tags = self.table("tags")
        counts = (
            self.table("transactions")
            .select(F.explode("tag_ids").alias("id"))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("transactionCount"))
        )
        return tags.drop("transactionCount").join(counts, "id", "left").withColumn(
            "transactionCount", F.coalesce("transactionCount", F.lit(0))
        )

    # -- cashflow (monarchmoney.py:2253-2408) -------------------------------

    def get_cashflow(
        self, start_date: str | None = None, end_date: str | None = None
    ) -> dict[str, DataFrame]:
        """monarchmoney.py:2253-2356 — four aggregation blocks over one
        filtered scan; defaults to the current month like the reference
        (:2350-2352)."""
        start_date, end_date = self._default_month(start_date, end_date)
        txns = (
            self.table("transactions")
            .withColumnRenamed("date", "txn_date")
            .filter(F.col("txn_date").between(F.lit(start_date), F.lit(end_date)))
        )
        return cashflow_report(
            txns, category_col="category_id", merchant_col="merchant_name"
        )

    def get_cashflow_summary(
        self, start_date: str | None = None, end_date: str | None = None
    ) -> DataFrame:
        """monarchmoney.py:2358-2408."""
        start_date, end_date = self._default_month(start_date, end_date)
        txns = (
            self.table("transactions")
            .withColumnRenamed("date", "txn_date")
            .filter(F.col("txn_date").between(F.lit(start_date), F.lit(end_date)))
        )
        return cashflow_summary(txns)

    @staticmethod
    def _default_month(start_date, end_date):
        """Both-or-neither + current-month default (monarchmoney.py:
        2343-2352, 2733-2754)."""
        if (start_date is None) != (end_date is None):
            raise ValueError(
                "You must specify both a start_date and end_date, not just one of them."
            )
        if start_date is None:
            today = dt.date.today()
            start = today.replace(day=1)
            nxt = (start + dt.timedelta(days=32)).replace(day=1)
            return start.isoformat(), (nxt - dt.timedelta(days=1)).isoformat()
        return start_date, end_date

    # -- recurring (monarchmoney.py:2667-2731) ------------------------------

    def get_recurring_transactions(
        self, start_date: str | None = None, end_date: str | None = None
    ) -> DataFrame:
        """monarchmoney.py:2667-2731 — same both-or-neither validation."""
        if (start_date is None) != (end_date is None):
            raise ValueError(
                "You must specify both a start_date and end_date, not just one of them."
            )
        rec = self.table("recurring")
        if start_date:
            rec = rec.filter(F.col("date").between(F.lit(start_date), F.lit(end_date)))
        return rec

    # -- mutations (monarchmoney.py:356-2640) -------------------------------

    def create_transaction(
        self, date: str, account_id, amount: float, merchant_name: str,
        category_id, notes: str = "", update_balance: bool = False,
    ) -> str:
        """monarchmoney.py:1556-1613 — returns the new id; amount is
        rounded to 2dp like the reference (:1601).

        Id = content digest over ALL payload fields (incl. category and
        notes) SALTED with a per-payload occurrence suffix, not
        hash(): Python str hashing is per-process randomized, so a
        digestless id would break cross-run references. The suffix
        makes a byte-identical second create mint a DISTINCT
        deterministic id — two same-priced purchases in one day both
        land, matching the reference's always-fresh server-minted ids
        instead of silently coalescing the second into the first (the
        pre-round-8 behavior, which was silent data loss on a
        plausible input). The suffix is 1 + the MAX numeric suffix
        already present in this digest's id family, NOT a row count
        (ADVICE r8): after deleting the unsuffixed id while -1
        survives, a count-based salt would re-mint -1 and the insert's
        anti-join would silently swallow it — the same loss class this
        id scheme exists to prevent. The price: a blind client-side
        RETRY of an already-applied create inserts a duplicate —
        exactly what replaying the reference's POST against the live
        server does too; idempotent re-runs should re-check state, not
        re-fire creates.

        SINGLE-WRITER ASSUMPTION (ADVICE r9): the probe-then-insert is
        not atomic — two CONCURRENT byte-identical creates can both
        read the same max suffix, mint the same id, and the second
        insert's anti-join swallows it. That matches this facade's
        scope (the reference client is a single asyncio session talking
        to a server that owns id minting; this facade is the
        single-session stand-in for both sides). Concurrent writers
        need an external coordination layer — or verify post-insert
        (recount the id family) and retry the probe-insert on a miss."""
        txns = self.table("transactions")
        import hashlib

        key = f"{date}|{account_id}|{amount}|{merchant_name}|{category_id}|{notes}"
        digest = hashlib.md5(key.encode()).hexdigest()[:12]
        # occurrence salt: O(1)-ish point-prefix probe, never a scan of
        # anything wider than this digest's id family; the unsuffixed
        # id counts as suffix 0 so max+1 never collides with a survivor
        prefix = f"manual-{digest}"
        top = (
            txns.filter(F.col("id").startswith(prefix))
            .select(
                F.max(
                    F.when(F.col("id") == prefix, F.lit(0)).otherwise(
                        F.regexp_extract(F.col("id"), r"-(\d+)$", 1).cast("int")
                    )
                ).alias("mx")
            )
            .collect()[0]["mx"]
        )
        new_id = prefix if top is None else f"{prefix}-{top + 1}"
        row = self.spark.createDataFrame(
            [(new_id, date, round(float(amount), 2), account_id, category_id,
              merchant_name, notes)],
            ["id", "date", "amount", "account_id", "category_id", "merchant_name", "notes"],
        ).withColumn("date", F.col("date").cast("date"))
        self.save("transactions", insert_rows(txns, row, "id"))
        return new_id

    def delete_transaction(self, transaction_id) -> bool:
        """monarchmoney.py:1615-1662. Returns whether a row was
        actually deleted. Deliberate adaptation of the reference's
        error surface: the reference RAISES RequestFailedException when
        the server's `deleted` flag is false; here not-found is an
        expected outcome of a batch pipeline, so it is reported as
        False rather than an exception (unconditionally reporting True
        would mask typo'd ids). The existence probe is a point lookup,
        not a full-table count."""
        txns = self.table("transactions")
        existed = (
            txns.filter(F.col("id") == F.lit(transaction_id)).limit(1).count() > 0
        )
        if existed:
            self.save(
                "transactions", delete_rows(txns, [transaction_id], "id")
            )
        return existed

    def update_transaction(self, transaction_id, **fields) -> None:
        """monarchmoney.py:2410-2570 — partial update of one row."""
        txns = self.table("transactions")
        for field, value in fields.items():
            txns = update_field_where(txns, "id", [transaction_id], field, value)
        self.save("transactions", txns)

    def update_transaction_splits(self, transaction_id, splits: DataFrame) -> None:
        """monarchmoney.py:2179-2251."""
        self.save(
            "transactions",
            update_splits(self.table("transactions"), transaction_id, splits, "id"),
        )

    def create_transaction_category(
        self, group_id, transaction_category_name: str, icon: str = "", **_
    ) -> None:
        """monarchmoney.py:1772-1857. Ids are name-keyed (the id format
        callers address deletes with), so a re-create with identical
        fields is an idempotent no-op — but a SAME-NAME category in a
        different group or with a different icon raises instead of
        being silently dropped by the anti-join."""
        cats = self.table("categories")
        new_id = f"cat-{transaction_category_name}"
        want = {"group_id": group_id, "icon": icon}
        probe_cols = [c for c in want if c in cats.columns]
        clash = (
            cats.filter(F.col("id") == F.lit(new_id))
            .select(*probe_cols)
            .limit(1)
            .collect()
        )
        if clash and any(clash[0][c] != want[c] for c in probe_cols):
            raise ValueError(
                f"category {transaction_category_name!r} already exists with "
                f"different group/icon — category names are the id namespace "
                f"here; pick a distinct name"
            )
        row = self.spark.createDataFrame(
            [(new_id, transaction_category_name, group_id, icon)],
            ["id", "name", "group_id", "icon"],
        )
        self.save("categories", insert_rows(cats, row, "id"))

    def delete_transaction_category(self, category_id) -> bool:
        """monarchmoney.py:1698-1736 — True only if the row existed
        (bool adaptation of the reference's raise-on-failure; see
        delete_transaction)."""
        return self.delete_transaction_categories([category_id])[0]

    def delete_transaction_categories(self, category_ids: Sequence) -> list[bool]:
        """monarchmoney.py:1738-1747 — bulk form; one merge, not N.
        Per-id result reports whether that row existed. The reference's
        bulk form gathers per-mutation EXCEPTIONS (asyncio.gather with
        return_exceptions=True) rather than booleans; a list[bool] is
        the deliberate batch-friendly rendering of that outcome. The
        existence probe collects only the MATCHING ids — bounded by the
        request size, never the table."""
        ids = list(category_ids)
        cats = self.table("categories")
        existing = {
            r["id"]
            for r in cats.filter(F.col("id").isin(ids)).select("id").collect()
        }
        if existing:
            self.save("categories", delete_rows(cats, ids, "id"))
        return [i in existing for i in ids]

    def create_transaction_tag(self, name: str, color: str) -> None:
        """monarchmoney.py:1859-1896."""
        tags = self.table("tags")
        row = self.spark.createDataFrame([(f"tag-{name}", name, color)], ["id", "name", "color"])
        self.save("tags", insert_rows(tags, row, "id"))

    def set_transaction_tags(self, transaction_id, tag_ids: Sequence) -> None:
        """monarchmoney.py:1924-1977 — replaces the row's tag set."""
        txns = self.table("transactions")
        txns = txns.withColumn(
            "tag_ids",
            F.when(
                F.col("id") == F.lit(transaction_id),
                F.array(*[F.lit(t) for t in tag_ids]),
            ).otherwise(F.col("tag_ids")),
        )
        self.save("transactions", txns)

    def create_manual_account(
        self, account_type: str, account_sub_type: str, is_in_net_worth: bool,
        account_name: str, account_balance: float = 0,
    ) -> str:
        """monarchmoney.py:356-414. Name-keyed id: identical re-create
        is an idempotent no-op; a same-name account with different
        type/subtype/net-worth raises rather than silently vanishing
        in the insert anti-join."""
        accounts = self.table("accounts")
        new_id = f"manual-{account_name}"
        want = {
            "type": account_type,
            "subtype": account_sub_type,
            "includeInNetWorth": is_in_net_worth,
        }
        probe_cols = [c for c in want if c in accounts.columns]
        clash = (
            accounts.filter(F.col("id") == F.lit(new_id))
            .select(*probe_cols)
            .limit(1)
            .collect()
        )
        if clash and any(clash[0][c] != want[c] for c in probe_cols):
            raise ValueError(
                f"manual account {account_name!r} already exists with a "
                f"different type/subtype/net-worth setting — account names "
                f"are the id namespace here; pick a distinct name"
            )
        row = self.spark.createDataFrame(
            [(new_id, account_name, account_type, account_sub_type,
              float(account_balance), is_in_net_worth)],
            ["id", "displayName", "type", "subtype", "currentBalance", "includeInNetWorth"],
        )
        self.save("accounts", insert_rows(accounts, row, "id"))
        return new_id

    def update_account(self, account_id, **fields) -> None:
        """monarchmoney.py:417-558."""
        accounts = self.table("accounts")
        for field, value in fields.items():
            accounts = update_field_where(accounts, "id", [account_id], field, value)
        self.save("accounts", accounts)

    def delete_account(self, account_id) -> bool:
        """monarchmoney.py:560-598 — True only if the row existed
        (the reference returns the raw response dict; a bool is the
        deliberate tabular-API rendering of the same outcome)."""
        accounts = self.table("accounts")
        existed = (
            accounts.filter(F.col("id") == F.lit(account_id)).limit(1).count() > 0
        )
        if existed:
            self.save("accounts", delete_rows(accounts, [account_id], "id"))
        return existed

    def set_budget_amount(self, amount: float, category_id, start_date: str, **_) -> None:
        """monarchmoney.py:2572-2640 — point-update of a planned amount;
        warehouse form: upsert into a budgets table keyed (category, month)."""
        path = self._path("budgets_plan")
        row = self.spark.createDataFrame(
            [(str(category_id), start_date, float(amount))],
            ["category_id", "month", "plannedAmount"],
        ).withColumn("month", F.col("month").cast("date"))
        # first-write is an EXISTENCE check, not an exception catch: a
        # broad except here would also swallow schema drift or a
        # transient read error on an existing plan table and replace
        # the WHOLE table with this one row, reported as success.
        from dieter___etl___monarchmoney_spark.sources.sinks import _hadoop_fs

        fs, target, _ = _hadoop_fs(self.spark, path)
        if fs.exists(target):
            existing = read_sink(self.spark, path)
            merged = upsert_rows(
                existing.withColumn("_k", F.concat_ws("|", "category_id", "month")),
                row.withColumn("_k", F.concat_ws("|", "category_id", "month")),
                "_k",
            ).drop("_k")
        else:
            merged = row
        from dieter___etl___monarchmoney_spark.sources.sinks import staged_overwrite

        staged_overwrite(merged, path)

    def upload_account_balance_history(self, account_id, balances: DataFrame) -> None:
        """monarchmoney.py:2642-2665 — CSV upload becomes a balance-table
        window replace for the account."""
        existing = self.table("balances")
        # NULL-safe keep-filter: `col != lit` is NULL (row dropped) for
        # NULL account_ids, which would silently delete unrelated rows
        # on every upload — same guard as maintenance.update_splits
        kept = existing.filter(
            F.col("account_id").isNull()
            | (F.col("account_id") != F.lit(account_id))
        )
        self.save("balances", kept.unionByName(balances, allowMissingColumns=True))

    def request_accounts_refresh(self, account_ids: Sequence) -> bool:
        """monarchmoney.py:600-648 — no remote provider to poke; the
        batch analog is a no-op that reports success."""
        return True

    def is_accounts_refresh_complete(self, account_ids: Sequence | None = None) -> bool:
        """monarchmoney.py:650-695."""
        return True

    def request_accounts_refresh_and_wait(
        self, account_ids: Sequence, timeout: int = 300, delay: int = 10
    ) -> bool:
        """monarchmoney.py:697-723."""
        return True
