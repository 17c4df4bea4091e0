"""Cost estimation (SURVEY.md §2.6 C6).

Reference: dry-run submissions return a cost estimate; large production
estimates sample roughly a 1M-token prefix instead of scanning the whole
job (/root/reference/sutro/sdk.py:268-285, README.md:173).

Spark mapping: a ``limit``-prefix sample → token-count aggregation ×
a price table. The prefix limit is pushed into the scan (Catalyst
CollectLimit), so estimating a 100 TB job reads only the sample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# $/1M tokens, stand-in price table for the stub models.
PRICE_PER_M_TOKENS = {
    "stub-echo": {"input": 0.10, "output": 0.40},
    "stub-embed": {"input": 0.02, "output": 0.0},
}

CHARS_PER_TOKEN = 4  # standard rough tokenization constant


def count_tokens(df: DataFrame, column: str) -> DataFrame:
    """Approximate token counts per row: ceil(chars / 4)."""
    return df.withColumn(
        "__tokens", F.ceil(F.length(F.col(column)) / CHARS_PER_TOKEN).cast("long")
    )


def estimate_cost(
    df: DataFrame,
    column: str,
    *,
    model: str = "stub-echo",
    sample_token_budget: int = 1_000_000,
    output_tokens_per_row: int = 128,
) -> dict:
    """Prefix-sample cost estimate.

    Reads rows until ~``sample_token_budget`` input tokens are seen
    (bounded by a limit pushed to the scan), extrapolates to the full
    row count, and prices input+output. A prefix shorter than its limit
    is the whole input, so the count aggregate runs only when the
    prefix comes back full: one Spark job for an input that fits.
    """
    prices = PRICE_PER_M_TOKENS.get(model)
    if prices is None:
        raise ValueError(f"no price entry for model {model!r}")
    # sample enough rows to cover the budget assuming ~CHARS_PER_TOKEN
    # chars/token and a conservative 256-token row guess, min 100 rows
    guess_rows = max(100, sample_token_budget // 256)
    sample = count_tokens(df.limit(guess_rows), column)
    agg = sample.agg(
        F.sum("__tokens").alias("tok"), F.count(F.lit(1)).alias("n")
    ).first()
    sampled_rows, sampled_tokens = int(agg["n"]), int(agg["tok"] or 0)
    if sampled_rows == 0:
        return {"rows": 0, "input_tokens": 0, "output_tokens": 0, "cost": 0.0, "sampled_rows": 0}
    total_rows = df.count() if sampled_rows == guess_rows else sampled_rows
    per_row = sampled_tokens / sampled_rows
    input_tokens = int(per_row * total_rows)
    output_tokens = output_tokens_per_row * total_rows
    cost = (
        input_tokens / 1e6 * prices["input"] + output_tokens / 1e6 * prices["output"]
    )
    return {
        "rows": total_rows,
        "input_tokens": input_tokens,
        "output_tokens": output_tokens,
        "cost": round(cost, 6),
        "sampled_rows": sampled_rows,
    }
