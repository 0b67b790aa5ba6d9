"""Seeded in-Spark transcript generator for the benchmark workloads.

Every random draw is a pure hash of ``(seed, conversation, turn_idx)``
(``xxhash64``, as ``scripts/scaling_bench.ensure_data`` does), so the same
seed yields the same table whatever the partitioning or core count. Rows
are produced and written by Spark; nothing is collected on the driver.

Schema: ``(conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp)``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# word-like filler; each turn's text is a slice of it, so n_chars and
# n_tokens vary from turn to turn and some turns are empty
_FILLER = " ".join(
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua ut enim ad minim "
    "veniam quis nostrud exercitation ullamco laboris nisi aliquip".split()
    * 6
)
_ROLES = ("user", "assistant", "system", "tool")
_TOOLS = ("search", "python", "browser", "calculator", "retrieval")
_EPOCH_US = 1704067200000000  # 2024-01-01 UTC
_STRIDE = 1_000_003  # prime, so rank = cid * stride + offset (mod n) is a permutation


@dataclass(frozen=True)
class Shape:
    """Size and skew of one generated table.

    Ordinary conversation sizes are the quantiles of a Pareto(``zipf_a``)
    with mean about ``mean_turns``, capped at ``max_turns``. ``n_mega`` extra conversations
    of equal size together hold ``mega_share`` of all turns.
    """

    n_convs: int
    mean_turns: float
    zipf_a: float
    max_turns: int
    n_mega: int
    mega_share: float

    @property
    def mega_turns(self) -> int:
        if self.n_mega == 0:
            return 0
        ordinary = self.n_convs * self.mean_turns
        return round(self.mega_share / (1.0 - self.mega_share) * ordinary / self.n_mega)


def _unit(h, k: int):
    """Uniform (0, 1) as a pure function of hash column ``h`` and salt ``k``."""
    return (F.pmod(F.xxhash64(h, F.lit(k)), F.lit(1_000_000_000)) + 0.5) / 1e9


def conv_name(cid: int) -> str:
    return f"conv_{cid:07d}"


def transcripts(spark: SparkSession, shape: Shape, seed: int) -> DataFrame:
    """The lazily defined transcript table; conversations ``0..n_mega-1``
    are the mega ones."""
    n_total = shape.n_mega + shape.n_convs
    convs = spark.range(n_total).select(
        F.format_string("conv_%07d", F.col("id")).alias("conv_id"),
        F.col("id").alias("cid"),
    )
    # ordinary sizes are the Pareto quantiles at (rank + 0.5) / n, with the
    # ranks dealt to conversations by a fixed permutation: every seed puts
    # the same sizes on the same conversations, so the rows each shuffle
    # partition gets, and with them the skew, do not change with the seed
    n = shape.n_convs
    rank = F.pmod((F.col("cid") - shape.n_mega) * F.lit(_STRIDE), F.lit(n))
    x_m = shape.mean_turns * (shape.zipf_a - 1.0) / shape.zipf_a
    pareto = F.lit(x_m) * F.pow((rank + 0.5) / n, -1.0 / shape.zipf_a)
    size = F.greatest(F.least(pareto, F.lit(float(shape.max_turns))).cast("int"), F.lit(2))
    size = F.when(F.col("cid") < shape.n_mega, F.lit(shape.mega_turns)).otherwise(size)
    turns = convs.select(
        "conv_id", "cid", F.explode(F.sequence(F.lit(0), size - 1)).alias("turn_idx")
    )

    r = F.xxhash64("cid", "turn_idx", F.lit(seed))
    delta = -60.0 * F.log(_unit(r, 1))  # exponential, mean 60 s
    delta = F.when(_unit(r, 2) < 0.07, F.lit(0.0)).otherwise(delta)  # ts ties
    delta = F.when(
        _unit(r, 3) < 0.05, delta + 1800.0 - 3600.0 * F.log(_unit(r, 4))
    ).otherwise(delta)  # idle gaps past the session threshold
    delta = F.when(F.col("turn_idx") == 0, 86400.0 * 5 * _unit(r, 5)).otherwise(delta)

    text_len = F.when(_unit(r, 9) < 0.05, F.lit(0)).otherwise(
        (F.lit(1.0) - 120.0 * F.log(_unit(r, 10))).cast("int")
    )
    text_len = F.least(text_len, F.lit(len(_FILLER) - 100))
    text_pos = (F.pmod(F.xxhash64(r, F.lit(11)), F.lit(97)) + 1).cast("int")

    roles = F.array(*[F.lit(x) for x in _ROLES])
    tools = F.array(*[F.lit(x) for x in _TOOLS])
    w = Window.partitionBy("cid").orderBy("turn_idx")
    return turns.withColumn("off_us", F.sum((delta * 1e6).cast("long")).over(w)).select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.element_at(roles, (F.pmod(F.xxhash64(r, F.lit(6)), F.lit(4)) + 1).cast("int")).alias(
            "role"
        ),
        F.substring(F.lit(_FILLER), text_pos, text_len).alias("text"),
        F.when(
            _unit(r, 7) < 0.15,
            F.element_at(tools, (F.pmod(F.xxhash64(r, F.lit(8)), F.lit(5)) + 1).cast("int")),
        ).alias("tool"),
        F.timestamp_micros(F.lit(_EPOCH_US) + F.col("off_us")).alias("ts"),
    )
