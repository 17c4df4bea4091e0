"""Drop-in style facade mirroring the reference SDK's public surface
(/root/reference/sutro/__init__.py:1-22, sdk.py:52-62) so a user of the
reference can switch: same method names, same knobs, DataFrames in
place of polars frames.

Differences by design (Spark-first, SURVEY.md §0):
- ``data`` accepts Spark/pandas DataFrames, lists, records, or paths;
  results come back as Spark DataFrames with the input columns carried
  through (the reference re-joins positionally; here alignment is
  structural). A job's results have one view, built only by
  :meth:`SutroSpark.get_job_results`: rows in input order, outputs
  JSON-unpacked, no ``__row_id`` or ``__prompt`` column. Attached
  ``infer``, ``await_job_completion`` and the CLI's ``jobs results``
  all return it.
- jobs execute on the local cluster via the JobRegistry instead of a
  remote API; job ids, statuses, polling, cancellation, quotas, and the
  parquet result cache keep the reference's semantics.
- the model is served by a pluggable backend object (``StubBackend``,
  ``HttpBackend``, or any ``Backend``); every plan carries it by value
  to the executors. The default deterministic stub makes everything
  reproducible offline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sutro_spark.functions.prompt import normalize_output_schema
from sutro_spark.operators import templates as _templates
from sutro_spark.operators.backends import STUB, Backend
from sutro_spark.operators.results import (
    order_results,
    output_schema_of,
    positional_join,
    read_result_cache,
    tag_output_schema,
    write_result_cache,  # noqa: F401 - unused here; perfbench traces sdk.write_result_cache
)
from sutro_spark.operators.transform import llm_transform
from sutro_spark.operators.unpack import unpack_json_outputs
from sutro_spark.plans.cost import estimate_cost
from sutro_spark.plans.jobs import JobRegistry, JobStatus
from sutro_spark.sources.ingest import ROW_ID, prepare_input_data, with_row_id


class SutroSpark:
    """API-parity facade over the engine (reference: sdk.py:52-62).

    >>> so = SutroSpark(spark)
    >>> results = so.infer(df, column="text", output_schema=Schema)
    >>> remote = SutroSpark(spark, backend=HttpBackend(url, api_key))
    """

    def __init__(
        self,
        spark: SparkSession | None = None,
        backend: Backend = STUB,
        api_key: str | None = None,
        base_url: str | None = None,
    ):
        from sutro_spark.session import get_spark

        if not isinstance(backend, Backend):
            raise TypeError(
                "backend must be a Backend object such as StubBackend() or "
                f"HttpBackend(url, key), not {type(backend).__name__}"
            )
        self.spark = spark or get_spark()
        self.backend = backend
        self.registry = JobRegistry(self.spark)
        self.api_key = api_key or ""
        self.base_url = base_url or ""
        self.serving_base_url = ""

    # --- config setters (reference: sdk.py:64-101) ------------------------
    def set_api_key(self, api_key: str) -> None:
        from sutro_spark.plans.config import save_config

        self.api_key = api_key
        save_config(api_key=api_key, base_url=self.base_url)

    def set_base_url(self, base_url: str) -> None:
        from sutro_spark.plans.config import save_config

        self.base_url = base_url
        save_config(api_key=self.api_key, base_url=base_url)

    def set_serving_base_url(self, serving_base_url: str) -> None:
        """Base URL for function-execution requests (reference
        sdk.py:91-101). Kept for API parity and has no effect: a
        backend carries its own URL, so nothing reads this value."""
        self.serving_base_url = serving_base_url

    # --- core inference (reference: sdk.py:465-537) ----------------------
    def infer(
        self,
        data,
        model: str = "stub-echo",
        column: str | list[str] | None = None,
        output_column: str = "inference_result",
        job_priority: int = 0,
        output_schema=None,
        system_prompt: str = "",
        sampling_params: dict | None = None,
        name: str | None = None,
        description: str | None = None,
        dry_run: bool = False,
        stay_attached: bool | None = None,
        random_seed_per_input: bool = False,
        truncate_rows: bool = True,
        id_column: str | None = None,
        unpack_json: bool = True,
        show_preview: bool = False,
    ):
        """Submit a batch inference over ``data``; attached (default for
        priority 0, sdk.py:512-514) returns the results DataFrame,
        detached returns the job id.

        ``id_column`` mirrors the reference's restriction (sdk.py:207-212):
        only HTTP(S) download-URL inputs accept one — for every other
        source the input columns already ride through to the results."""
        if id_column is not None and not (
            isinstance(data, str) and data.startswith(("http://", "https://"))
        ):
            raise ValueError("id_column is only supported for HTTP(S) download URL inputs.")
        df = prepare_input_data(self.spark, data, column if isinstance(column, str) else None)
        schema_dict = normalize_output_schema(output_schema) if output_schema else None
        if dry_run:
            # the estimate reads only the input: no plan to build
            return self.estimate_cost(df, column or "prompt", model=model)
        if stay_attached is None:
            stay_attached = job_priority == 0  # sdk.py:512-514
        out = llm_transform(
            df,
            column or "prompt",
            model=model,
            output_column="outputs",
            system_prompt=system_prompt,
            output_schema=schema_dict,
            sampling_params=sampling_params,
            random_seed_per_input=random_seed_per_input,
            truncate_chars=8192 * 4 if truncate_rows else None,
            # the job's file holds everything the results view can
            # resurface: the logprobs and, as `inputs`, the shipped
            # prompt (the reference stores both, sdk.py:1251-1276)
            include_logprobs=True,
            backend=self.backend,
            keep_prompt=True,
        )
        if schema_dict is not None:
            out = tag_output_schema(out, schema_dict)
        job_id = self.registry.submit(
            out, name=name, description=description, model=model, priority=job_priority
        )
        if not stay_attached:
            return job_id
        return self._finalize_results(
            job_id, output_column, unpack_json=unpack_json, show_preview=show_preview
        )

    def _finalize_results(self, job_id, output_column, *, unpack_json=True, show_preview=False):
        status = self.registry.await_job_completion(job_id)
        if status is not JobStatus.SUCCEEDED:
            reason = self.registry.get_failure_reason(job_id)
            raise RuntimeError(
                f"job {job_id} {status.value.lower()}" + (f": {reason}" if reason else "")
            )
        res = self.get_job_results(job_id, output_column, unpack_json=unpack_json)
        if show_preview:
            # `res` already carries the input columns structurally
            self._print_preview(job_id, res, 10, joined=True)
        return res

    # --- templates (reference: templates/*) ------------------------------
    def classify(self, data, classes, column=None, **kw):
        df = prepare_input_data(self.spark, data, column if isinstance(column, str) else None)
        return _templates.classify(df, classes, column or "prompt", backend=self.backend, **kw)

    def embed(self, data, model: str = "stub-embed", column=None, dim: int = 8, **kw):
        df = prepare_input_data(self.spark, data, column if isinstance(column, str) else None)
        return _templates.embed(
            df, column or "prompt", model=model, dim=dim, backend=self.backend, **kw
        )

    def score(self, data, criteria, column=None, score_range=(1, 10), **kw):
        df = prepare_input_data(self.spark, data, column if isinstance(column, str) else None)
        return _templates.score(
            df, criteria, column or "prompt", score_range=score_range, backend=self.backend, **kw
        )

    def rank(self, data, option_labels, criteria, run_elo: bool = False, **kw):
        df = prepare_input_data(self.spark, data, None)
        return _templates.rank(
            df, option_labels, criteria, run_elo=run_elo, backend=self.backend, **kw
        )

    def infer_per_model(self, data, models, names=None, column=None, **kw):
        df = prepare_input_data(self.spark, data, column if isinstance(column, str) else None)
        return _templates.infer_per_model(
            df, column or "prompt", models, names=names, backend=self.backend, **kw
        )

    def run_function(self, name, input_data, **kw):
        return _templates.run_function(input_data, name, backend=self.backend, **kw)

    def batch_run_function(self, name, data, **kw):
        df = prepare_input_data(self.spark, data, None)
        return _templates.batch_run_function(df, name, backend=self.backend, **kw)

    # --- job lifecycle (reference: sdk.py:853-1367, 1627-1718) ------------
    def get_job_status(self, job_id: str) -> str:
        return self.registry.get_job_status(job_id).value

    def list_jobs(self) -> DataFrame:
        return self.registry.jobs_table()

    def cancel_job(self, job_id: str) -> None:
        self.registry.cancel_job(job_id)

    def await_job_completion(self, job_id: str, timeout: float = 7200.0):
        """Wait for the job; its :meth:`get_job_results` view on success,
        None when it failed, was cancelled or is unknown here."""
        status = self.registry.await_job_completion(job_id, timeout=timeout)
        return self.get_job_results(job_id) if status is JobStatus.SUCCEEDED else None

    def attach(
        self,
        job_id: str,
        original_df: DataFrame | None = None,
        output_column: str = "inference_result",
        preview_rows: int = 10,
        quiet: bool = False,
    ):
        """Re-attach to a job and wait (reference: sdk.py:852-965).

        A live job is awaited. On success the results are merged onto
        ``original_df`` (when given) and a preview is printed — the
        attached-run preview join of sdk.py:437-459 — and the job id is
        returned; the reference can't re-stream a done job's progress
        and points at `jobs results` instead (sdk.py:873-879). An
        unknown, failed or cancelled job prints the reference's message
        and the failure reason, if any, and returns None.
        """
        status = self.registry.await_job_completion(job_id)
        if status is JobStatus.UNKNOWN:
            if not quiet:
                print(f"Job {job_id} not found")
            return None
        if status is not JobStatus.SUCCEEDED:
            if not quiet:
                print(f"Job is in {status.value.lower()} state.")
                reason = self.registry.get_failure_reason(job_id)
                if reason:
                    print(f"Failure reason: {reason}")
            return None
        preview = self.get_job_results(
            job_id, output_column=output_column, with_original_df=original_df
        )
        if not quiet:
            self._print_preview(job_id, preview, preview_rows, joined=original_df is not None)
        return job_id

    @staticmethod
    def _print_preview(job_id, res, rows, *, joined):
        """The attached-run result preview (reference sdk.py:437-459)."""
        res.show(rows, truncate=48)
        if joined:
            print(
                "✔ Displaying result preview. You can join the results on the"
                f" original dataframe with `so.get_job_results('{job_id}',"
                " with_original_df=<original_df>)`"
            )
        else:
            print(
                "✔ Job results received. You can re-obtain the results with"
                f" `so.get_job_results('{job_id}')`"
            )

    def get_job_results(
        self,
        job_id: str,
        output_column: str = "inference_result",
        include_inputs: bool = False,
        include_cumulative_logprobs: bool = False,
        with_original_df: DataFrame | None = None,
        disable_cache: bool = False,
        unpack_json: bool = True,
    ):
        """Results fetch: the one view of a job's results (reference:
        sdk.py:1131-1340), also what attached ``infer``,
        :meth:`await_job_completion` and ``sutro jobs results`` return.
        It reads the job's parquet file and

        - renames the raw ``outputs`` to ``output_column`` and, with
          ``unpack_json``, promotes its JSON fields to columns: with the
          schema the job stored, or without one by probing row 0
          (sdk.py:1278-1320);
        - ``include_inputs`` resurfaces the shipped prompt as an
          ``inputs`` column, ordered first (sdk.py:1251-1276);
        - ``with_original_df`` concatenates the results onto the given
          original frame by row position — the reference's polars
          ``with_columns`` (sdk.py:1322-1334), here an equi-join on the
          engine-wide ``__row_id``; result columns win name collisions
          exactly like ``with_columns`` does;
        - returns the rows in input order, without ``__row_id`` or
          ``__prompt``;
        - ``disable_cache`` is accepted for parity and has no effect: a
          job's results exist only as its parquet file, so every fetch
          reads it.
        """
        path, schema, rows = self.registry.results_file(job_id)
        res = read_result_cache(self.spark, job_id, path=path, schema=schema)
        if res is None:
            raise ValueError(f"no results for job {job_id}")
        output_schema = output_schema_of(res)
        # dropped before the unpack and the join, so an unasked column
        # never collides with a JSON field or an original column
        if not include_cumulative_logprobs and "cumulative_logprobs" in res.columns:
            res = res.drop("cumulative_logprobs")
        res = res.withColumnRenamed("outputs", output_column)
        if unpack_json:
            res = unpack_json_outputs(res, output_column, output_schema)
        if "__prompt" in res.columns:
            res = (
                res.withColumnRenamed("__prompt", "inputs")
                if include_inputs
                else res.drop("__prompt")
            )
        if with_original_df is not None:
            orig = (
                with_original_df
                if ROW_ID in with_original_df.columns
                else with_row_id(with_original_df, None)
            )
            overlap = (set(orig.columns) & set(res.columns)) - {ROW_ID}
            if overlap:  # result columns replace originals (with_columns rule)
                orig = orig.drop(*overlap)
            res = positional_join(orig, res)
        per_batch = int(self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        if rows is not None and 0 < per_batch and rows <= per_batch:
            # A job of at most one Arrow batch of rows is ordered in one
            # task: on a single partition the sort needs no exchange, so
            # it runs neither the range shuffle's sampling job nor its
            # shuffle, whose two extra scans per fetch of a small job
            # cost more than the sort and made the driver's heap grow.
            res = res.coalesce(1)
        return order_results(
            res,
            output_column,
            include_inputs=include_inputs,
            include_logprobs=include_cumulative_logprobs,
        )

    def get_quotas(self) -> dict:
        return {
            p: {"max_rows": q.max_rows, "max_tokens": q.max_tokens}
            for p, q in self.registry.quotas.items()
        }

    def estimate_cost(self, data, column: str, model: str = "stub-echo") -> dict:
        df = data if isinstance(data, DataFrame) else prepare_input_data(self.spark, data, column)
        return estimate_cost(df, column, model=model)

    # --- datasets (reference: sdk.py:1369-1596) ---------------------------
    def create_dataset(self, name: str) -> str:
        from sutro_spark.cli import create_dataset

        return create_dataset(name)

    def upload_to_dataset(self, name: str, file_or_dir: str) -> list[str]:
        from sutro_spark.cli import upload_to_dataset

        return upload_to_dataset(name, file_or_dir)

    def list_datasets(self) -> list[str]:
        from sutro_spark.cli import list_datasets

        return list_datasets()

    def list_dataset_files(self, name: str) -> list[str]:
        from sutro_spark.cli import list_dataset_files

        return list_dataset_files(name)

    def download_from_dataset(self, name: str, dest_dir: str = ".") -> list[str]:
        from sutro_spark.cli import download_from_dataset

        return download_from_dataset(name, dest_dir)

    # --- auth (reference: sdk.py:1598-1625) -------------------------------
    def try_authentication(self) -> bool:
        from sutro_spark.plans.config import try_authentication

        return try_authentication()
