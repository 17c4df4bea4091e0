"""sutro_spark — a PySpark-native analytics engine with the data-processing
capabilities of the sutro client SDK (reference: /root/reference, read-only).

The reference is a client for a remote batch-LLM-inference service; its
data semantics (see SURVEY.md) are re-expressed here as native Spark
operators:

- ingestion of lists/records/DataFrames/CSV/Parquet/TXT with an explicit
  order-preserving ``__row_id`` convention (reference: sdk.py:1322-1334
  relies on implicit positional order; Spark has none, so we mint one),
- prompt assembly from columns + literals (reference: common.py:77-113),
- a batched row-wise model transform ``llm_transform`` built on
  ``mapInPandas`` with a pluggable inference backend (reference:
  sdk.py:465-537 ships rows to api.sutro.sh; here the backend is an
  object the plan carries by value to the executors — the
  deterministic ``StubBackend`` by default, ``HttpBackend`` for a
  sutro-style service),
- structured-output JSON unpacking (reference: sdk.py:1278-1320),
- the classify / embed / score / rank templates (reference: templates/*),
- ballots → pairwise counts → Bradley-Terry/Elo (reference:
  evals.py:181-336),
- job lifecycle / cost estimation / progress / traces (reference:
  sdk.py, observability.py),
- plus the large-scale training-data operators the reference's north star
  calls for: dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard /
  embedding cosine), similarity search, text analysis, multimodal column
  plumbing.

Everything is DataFrame-first: Catalyst handles pushdown/pruning/AQE;
Python appears only inside Arrow-batched ``mapInPandas`` where a model
call is genuinely required.
"""

from sutro_spark.sdk import SutroSpark
from sutro_spark.session import get_spark
from sutro_spark.sources.ingest import (
    prepare_input_data,
    read_csv,
    read_parquet,
    read_text,
    with_row_id,
)
from sutro_spark.functions.prompt import concat_prompt, labeled_concat, normalize_output_schema
from sutro_spark.operators.backends import HttpBackend, StubBackend
from sutro_spark.operators.transform import llm_transform
from sutro_spark.operators.unpack import unpack_json_outputs
from sutro_spark.operators.templates import classify, embed, rank, score
from sutro_spark.operators.elo import elo

__all__ = [
    "SutroSpark",
    "get_spark",
    "prepare_input_data",
    "read_csv",
    "read_parquet",
    "read_text",
    "with_row_id",
    "concat_prompt",
    "labeled_concat",
    "normalize_output_schema",
    "StubBackend",
    "HttpBackend",
    "llm_transform",
    "unpack_json_outputs",
    "classify",
    "embed",
    "score",
    "rank",
    "elo",
]

__version__ = "0.1.0"
