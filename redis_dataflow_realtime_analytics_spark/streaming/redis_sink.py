"""Redis-protocol metrics sink — wire-compatible with the reference's
key/command catalog (SURVEY §1.3).

The reference's 12 write legs emit, per event: ``INCRBY`` on
``visitCounter_{yyyy_MM_dd'T'HH_mm}``, ``PFADD``/``SADD`` on
``evcounter_…``/``hll_*``/``set_*`` key families
(MetricsCalculationPipeline.java:60-193; key formats :198-243). This sink
reproduces those keys byte-for-byte so an existing dashboard
(TimeseriesMetricsController reading MGET/PFCOUNT/SCARD) keeps working —
but commands are emitted from **per-batch aggregates**, not per event:
one INCRBY per (minute, batch) instead of one per event, and distinct
(key, member) pairs for PFADD/SADD (idempotent, so at-least-once delivery
to Redis stays correct). All twelve legs come from one scan of the batch
and one aggregate over the (method, key, member) commands each event
emits — one shuffle, not one per leg.

``redis-py`` is optional (import-gated). Without it, commands append to a
parquet command log — used by tests to assert exact key/command parity,
and a reasonable audit format in its own right.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # pragma: no cover - optional dependency
    import redis as _redis
except ImportError:  # pragma: no cover
    _redis = None

#: Joda ``'<p>_'yyyy_MM_dd'T'HH_mm`` → Spark datetime pattern
#: (MetricsCalculationPipeline.java:237-243, TimeSeriesKeyBuilder.java:26-32).
MINUTE_PATTERN = "yyyy_MM_dd'T'HH_mm"


def _minute_key(prefix: str) -> F.Column:
    return F.concat(F.lit(prefix + "_"), F.date_format("ts", MINUTE_PATTERN))


def metric_commands(events: DataFrame) -> DataFrame:
    """Normalized events → Redis command rows (method, key, member, delta).

    One row per command; all twelve reference legs from ONE scan and ONE
    aggregate. The key encodes the dimensions and the method the
    aggregate, so each event inlines its twelve (leg, method, key, member)
    commands and a single ``groupBy`` collapses them: the row count is the
    INCRBY delta for W1 and is dropped for the idempotent PFADD/SADD legs,
    whose groups are the distinct (key, member) pairs. ``leg`` stays in the
    grouping so two legs whose keys happen to coincide still emit one row
    each, exactly as a union of per-leg distincts would."""
    minute = F.date_format("ts", MINUTE_PATTERN)
    uid, exp, var = F.col("user_id"), F.col("experiment_id"), F.col("variant")
    legs = [
        ("INCRBY", _minute_key("visitCounter"), F.lit(None)),  # W1
        (  # W2: evcounter_e_{exp}_v_{var}_{minute}
            "PFADD",
            F.concat(F.lit("evcounter_e_"), exp, F.lit("_v_"), var, F.lit("_"), minute),
            uid,
        ),
        ("PFADD", F.concat(F.lit("hll_var_"), var), uid),   # W3
        ("SADD", F.concat(F.lit("set_var_"), var), uid),    # W4
        ("PFADD", F.concat(F.lit("hll_exp_"), exp), uid),   # W5
        ("SADD", F.concat(F.lit("set_exp_"), exp), uid),    # W6
        ("PFADD", _minute_key("hll_experiments_experiments"), exp),  # W7
        ("SADD", _minute_key("set_experiments_experiments"), exp),   # W8
        ("PFADD", _minute_key("hll_variants_variants"), var),  # W9
        ("SADD", _minute_key("set_variants_variants"), var),   # W10
        ("PFADD", _minute_key("hll_dthr"), uid),   # W11
        ("SADD", _minute_key("set_dthr"), uid),    # W12
    ]
    commands = F.array(*[
        F.struct(
            F.lit(i).alias("leg"),
            F.lit(method).alias("method"),
            key.alias("key"),
            member.cast("string").alias("member"),
        )
        for i, (method, key, member) in enumerate(legs)
    ])
    return (
        events.select(F.inline(commands))
        .groupBy("leg", "method", "key", "member")
        .agg(F.count("*").alias("n"))
        .select(
            "method",
            "key",
            "member",
            F.when(F.col("method") == "INCRBY", F.col("n")).alias("delta"),
        )
    )


class RedisMetricsSink:
    """foreachBatch sink: ship the micro-batch's command rows to Redis
    (pipelined, per partition) or to the parquet command log fallback.

    ``client_factory`` is the client injection point: a zero-arg
    callable, executed ON THE EXECUTORS (one client per partition),
    returning an object with redis-py's ``pipeline(transaction=False)``
    surface (``incrby``/``pfadd``/``sadd``/``execute``). Production uses
    it for cluster/auth'd clients; the e2e test injects a minimal TCP
    client so the real pipelined send path runs against a live keyspace
    server without redis-py installed."""

    def __init__(
        self,
        host: str = "localhost",
        port: int = 6379,
        log_dir: str | None = None,
        client_factory=None,
    ):
        self.host, self.port, self.log_dir = host, port, log_dir
        self.client_factory = client_factory

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        cmds = metric_commands(batch_df)
        factory = self.client_factory
        if factory is None:
            if _redis is None or self.log_dir is not None:
                if self.log_dir is None:
                    raise RuntimeError(
                        "redis-py unavailable; pass log_dir for the command log"
                    )
                (
                    cmds.withColumn("batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch_id")
                    .parquet(self.log_dir)
                )
                return
            host, port = self.host, self.port

            def factory():  # pragma: no cover - needs a redis server
                return _redis.Redis(host=host, port=port)

        def send(rows) -> None:
            client = factory()
            pipe = client.pipeline(transaction=False)
            n = 0
            for r in rows:
                if r.method == "INCRBY":
                    pipe.incrby(r.key, r.delta)
                elif r.method == "PFADD":
                    pipe.pfadd(r.key, r.member)
                else:
                    pipe.sadd(r.key, r.member)
                n += 1
                if n % 10_000 == 0:
                    pipe.execute()
            pipe.execute()

        cmds.foreachPartition(send)
