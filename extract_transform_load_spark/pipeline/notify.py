"""Web-push notification dispatch — the engine-expressible half of A24.

The reference's push pipeline has two halves:

1. **DISPATCH** (pure dataflow — implemented here): map a parsed event
   to ``(address, push_type, body)`` — liquidation warnings map level
   1/2/3 to Funding / FundingRecommended / FundNow, anything else to
   Unsupported (``crates/etl-core/src/types/push.rs:138-147``), with a
   JSON body of ``{level, ltv, position}``
   (``handler/wasm_ls_liquidation_warning.rs:47-73``); liquidations map
   the cause to PartiallyLiquidated / FullyLiquidated with a
   ``{position}`` body (``handler/wasm_ls_liquidation.rs:122-129``) —
   then look up the address's ACTIVE subscriptions
   (``dao/postgre/subscription.rs:27-39``: ``WHERE active = true AND
   address = $1``), fan out one delivery row per subscription with
   TTL 24h / urgency high (``push.rs:24-27``), and compute the
   deactivation set from delivery statuses (``push.rs:100-102``:
   endpoints whose push service answered an expiration code are
   switched ``active = false``).
2. **TRANSPORT** (out of engine scope): the VAPID ES256 JWT, ECE
   payload encryption and HTTP POST (``push.rs:63-99``). None of those
   libraries belongs in a query engine (and none is in this
   container), so delivery takes an injectable ``transport`` callable
   and the default raises ``NotImplementedError`` naming exactly what
   to inject — the multimodal strict-decoder contract: the Spark-side
   plumbing (schemas, the fan-out join, Arrow-batched delivery, the
   deactivation set) is real and tested, the I/O edge is the caller's.

Scale shape: the subscription table is the classic small dimension —
broadcast by default (guardable); the event stream is the big side and
never shuffles for dispatch. Delivery is ``mapInPandas`` (Arrow
batches), so a real transport runs bounded-concurrent per partition —
the engine analogue of the reference's semaphore-bounded tokio tasks
(``push.rs:46-55``).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..sources.tables import literal_row

#: level -> PUSH_TYPES (types/push.rs:138-147).
_LEVEL_TYPES = {1: "Funding", 2: "FundingRecommended", 3: "FundNow"}

#: HTTP statuses that deactivate a subscription (push.rs:100-102 reads
#: them from config; 404/410 are the Web Push expiration codes).
DEFAULT_DEACTIVATE_STATUSES = (404, 410)


def warning_push_data(
    warnings: DataFrame,
    address_col: str = "address",
    level_col: str = "level",
    ltv_col: str = "ltv",
    contract_col: str = "contract",
) -> DataFrame:
    """(address, push_type, body) rows for liquidation WARNINGS —
    level 1/2/3 maps to the funding-escalation types, anything else to
    Unsupported with an empty body (the reference emits the push
    anyway; wasm_ls_liquidation_warning.rs:69-73)."""
    t = F.col(level_col).cast("int")
    push_type = (
        F.when(t == 1, _LEVEL_TYPES[1])
        .when(t == 2, _LEVEL_TYPES[2])
        .when(t == 3, _LEVEL_TYPES[3])
        .otherwise("Unsupported")
    )
    body = F.when(
        t.isin(list(_LEVEL_TYPES)),
        F.format_string(
            '{"level": %s, "ltv": %s, "position": "%s"}',
            F.col(level_col).cast("string"),
            F.col(ltv_col).cast("string"),
            F.col(contract_col),
        ),
    ).otherwise(F.lit("{}"))
    return warnings.select(
        F.col(address_col).alias("address"),
        push_type.alias("push_type"),
        body.alias("body"),
    )


def liquidation_push_data(
    liquidations: DataFrame,
    address_col: str = "address",
    cause_col: str = "cause",
    contract_col: str = "contract",
) -> DataFrame:
    """(address, push_type, body) rows for LIQUIDATIONS — the
    reference's THREE-way cause mapping (model/models.rs:226-234 +
    wasm_ls_liquidation.rs:121-134): 'overdue interest' is a partial
    liquidation, 'high liability' a full one, and any other/garbled
    cause is Unsupported with an EMPTY body (the known causes carry the
    position only)."""
    cause = F.lower(F.col(cause_col))
    push_type = (
        F.when(cause == "overdue interest", "PartiallyLiquidated")
        .when(cause == "high liability", "FullyLiquidated")
        .otherwise("Unsupported")
    )
    body = F.when(
        cause.isin("overdue interest", "high liability"),
        F.format_string('{"position": "%s"}', F.col(contract_col)),
    ).otherwise(F.lit("{}"))
    return liquidations.select(
        F.col(address_col).alias("address"),
        push_type.alias("push_type"),
        body.alias("body"),
    )


def notification_outbox(
    push_rows: DataFrame,
    subscriptions: DataFrame,
    ttl_seconds: int = 24 * 60 * 60,
    urgency: str = "high",
    broadcast_subscriptions: bool = True,
) -> DataFrame:
    """Fan each (address, push_type, body) notification out to the
    address's ACTIVE subscriptions — one delivery row per
    (notification x subscription), carrying everything the transport
    needs. The active filter is pushed below the join
    (subscription.rs:33's WHERE clause); the subscription dim
    broadcasts by default (pass False when it outgrows executors —
    the join then shuffles on address)."""
    subs = subscriptions.filter(F.col("active")).select(
        "address", "endpoint", "p256dh", "auth"
    )
    if broadcast_subscriptions:
        subs = F.broadcast(subs)
    return push_rows.join(subs, "address").select(
        "address",
        "endpoint",
        "p256dh",
        "auth",
        "push_type",
        "body",
        F.lit(ttl_seconds).cast("bigint").alias("ttl"),
        F.lit(urgency).alias("urgency"),
    )


def deliver_outbox(
    outbox: DataFrame,
    transport: Callable[..., int] | None = None,
    max_concurrency: int = 8,
) -> DataFrame:
    """Apply ``transport(endpoint, p256dh, auth, body, ttl, urgency) ->
    int HTTP status`` to every outbox row, Arrow-batched — returns
    (endpoint, status). The engine ships NO transport: VAPID signing,
    ECE encryption and the HTTP POST are push.rs:63-99's job, not a
    query engine's — inject one (tests use a recording fake).

    Delivery parallelism is two-level: across partitions (Spark tasks)
    AND, within each Arrow batch, a bounded thread pool of
    ``max_concurrency`` in-flight transport calls — the engine twin of
    the reference's ``buffer_unordered(concurrency)``
    (push.rs:46-55). Transport calls are I/O-bound HTTP POSTs, so
    threads overlap them despite the GIL; ``max_concurrency=1``
    restores strictly serial per-partition delivery (and skips the
    pool entirely). Result order within a batch is preserved
    regardless of completion order."""
    if transport is None:
        raise NotImplementedError(
            "web-push transport (VAPID ES256 JWT + ECE encryption + HTTP "
            "POST — push.rs:63-99) is not an engine concern and its "
            "libraries are not vendored; pass transport=callable("
            "endpoint, p256dh, auth, body, ttl, urgency) -> int status"
        )
    if max_concurrency < 1:
        raise ValueError(f"max_concurrency must be >= 1, got {max_concurrency}")

    import pandas as pd

    def _one(r) -> int:
        return int(
            transport(r.endpoint, r.p256dh, r.auth, r.body, r.ttl, r.urgency)
        )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from concurrent.futures import ThreadPoolExecutor

        if max_concurrency == 1:
            for pdf in batches:
                statuses = [_one(r) for r in pdf.itertuples()]
                yield pd.DataFrame(
                    {"endpoint": pdf["endpoint"], "status": statuses}
                )
            return
        with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
            for pdf in batches:
                # executor.map preserves input order; the pool bounds
                # in-flight calls at max_workers (buffer_unordered's
                # bound, ordered results).
                statuses = list(pool.map(_one, pdf.itertuples()))
                yield pd.DataFrame(
                    {"endpoint": pdf["endpoint"], "status": statuses}
                )

    return outbox.select(
        "endpoint", "p256dh", "auth", "body", "ttl", "urgency"
    ).mapInPandas(run, schema="endpoint string, status int")


#: Canned test-push payloads (controller/misc.rs:423-471): the demo
#: levels/LTVs the reference hardcodes, over a neutral placeholder
#: position (the reference embeds a sample mainnet contract id; the
#: engine twin keeps the shape, not the address).
_TEST_POSITION = "position-sample"
_TEST_BODIES = {
    "Funding": (1, 850),
    "FundingRecommended": (2, 865),
    "FundNow": (3, 865),
}


def test_push_data(push_type: str) -> tuple[str, str]:
    """(push_type, body) for GET /test-push (misc.rs:397-421) — the
    canned per-type payload; unknown types fail loudly like the
    reference's FromStr (types/push.rs:122-135)."""
    if push_type in _TEST_BODIES:
        level, ltv = _TEST_BODIES[push_type]
        return push_type, (
            f'{{"level": {level}, "ltv": {ltv}, '
            f'"position": "{_TEST_POSITION}"}}'
        )
    if push_type in ("PartiallyLiquidated", "FullyLiquidated"):
        return push_type, f'{{"position": "{_TEST_POSITION}"}}'
    if push_type == "Unsupported":
        return push_type, "{}"
    raise ValueError(f"PUSH_TYPES not supported: {push_type!r}")


def apply_subscription(
    subscriptions: DataFrame,
    address: str,
    auth: str,
    p256dh: str,
    endpoint: str,
) -> tuple[DataFrame, str]:
    """The POST /subscribe state transition (misc.rs:286-364) as a pure
    old-state -> new-state transform plus the response status:

    1. subscriptions sharing this ``auth`` under a DIFFERENT address
       deactivate (subscription.rs:56-70 — a browser's push key moved
       to a new wallet);
    2. an existing (address, auth) row TOGGLES its active flag —
       subscribe is its own unsubscribe (misc.rs:339-358);
    3. otherwise the new row appends with ``active = true``.

    Returns ``(new_state, "Subscribed" | "Unsubscribed")``. The
    existence probe is one keyed ``.first()`` (bounded: a PK lookup at
    API cadence); the state transform itself is scan-local — apply it
    to the subscription table with the merge machinery
    (sources/merge.py) exactly where the reference runs its UPDATEs.
    """
    spark = subscriptions.sparkSession
    prev = (
        subscriptions.filter(
            (F.col("address") == address) & (F.col("auth") == auth)
        )
        .select("active")
        .first()
    )
    same_auth_other = (F.col("auth") == auth) & (F.col("address") != address)
    if prev is not None:
        new_active = not bool(prev["active"])
        this_row = (F.col("address") == address) & (F.col("auth") == auth)
        new_state = subscriptions.withColumn(
            "active",
            F.when(same_auth_other, F.lit(False))
            .when(this_row, F.lit(new_active))
            .otherwise(F.col("active")),
        )
        return new_state, ("Subscribed" if new_active else "Unsubscribed")
    # build the insert row against the INPUT schema so request-context
    # extras (expiration/ip/user_agent, V001:346-356) pass through as
    # NULL instead of breaking the union; a plan-only literal row, so
    # the insert needs no Python worker
    vals = {f.name: None for f in subscriptions.schema.fields}
    vals.update(
        address=address, endpoint=endpoint, p256dh=p256dh, auth=auth, active=True
    )
    fresh = literal_row(
        spark,
        subscriptions.schema,
        tuple(vals[f.name] for f in subscriptions.schema.fields),
    )
    new_state = subscriptions.withColumn(
        "active", F.when(same_auth_other, F.lit(False)).otherwise(F.col("active"))
    ).unionByName(fresh)
    return new_state, "Subscribed"


def expired_deactivations(
    delivery_results: DataFrame,
    statuses: tuple = DEFAULT_DEACTIVATE_STATUSES,
) -> DataFrame:
    """The ``subscription.deactivate`` twin (push.rs:100-102): the
    DISTINCT endpoints whose delivery status says the subscription is
    gone — apply with an ``active = false`` merge on the subscription
    table (sources/merge.py)."""
    return (
        delivery_results.filter(F.col("status").isin(list(statuses)))
        .select("endpoint")
        .distinct()
    )
