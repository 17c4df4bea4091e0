"""CLI over the engine (SURVEY.md §3.3; reference: /root/reference/sutro/cli.py).

Commands mirror the reference's surface: jobs {list,status,results,
cancel,attach}, datasets {create,list,upload,download}, cache
{show,clear}, quotas — operating on the local results cache and
warehouse paths instead of a remote API. The jobs-list rendering
pipeline (null filter, sort desc, date/tz format, fill nulls, currency
format, limit 25) is the same relational shape checked by the
``top_orders`` driver query.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def format_jobs_table(jobs: DataFrame, *, limit: int | None = 25, tz: str = "UTC") -> DataFrame:
    """The reference's jobs-list projection (cli.py:143-201): drop null
    creation times, newest first, local-time display strings, zero-fill
    token counters, $-format cost, cap at 25 rows."""
    out = (
        jobs.where(F.col("datetime_created").isNotNull())
        .orderBy(F.desc("datetime_created"), F.desc("job_id"))
        .select(
            "job_id",
            F.coalesce("name", F.lit("")).alias("name"),
            "status",
            F.date_format(
                F.from_utc_timestamp("datetime_created", tz), "yyyy-MM-dd HH:mm:ss"
            ).alias("created"),
            F.coalesce(
                F.date_format(
                    F.from_utc_timestamp("datetime_completed", tz), "yyyy-MM-dd HH:mm:ss"
                ),
                F.lit(""),
            ).alias("completed"),
            F.coalesce("input_tokens", F.lit(0)).alias("input_tokens"),
            F.coalesce("output_tokens", F.lit(0)).alias("output_tokens"),
            F.format_string("$%.5f", F.coalesce("cost_estimate", F.lit(0.0))).alias("cost"),
        )
    )
    return out.limit(limit) if limit else out


def warehouse_dir() -> str:
    return os.environ.get("SUTRO_SPARK_WAREHOUSE", os.path.expanduser("~/.sutro_spark/datasets"))


def dataset_path(name: str) -> str:
    return os.path.join(warehouse_dir(), name)


def create_dataset(name: str) -> str:
    path = dataset_path(name)
    os.makedirs(path, exist_ok=True)
    return path


def list_datasets() -> list[str]:
    root = warehouse_dir()
    if not os.path.isdir(root):
        return []
    return sorted(os.listdir(root))


def upload_to_dataset(name: str, file_or_dir: str) -> list[str]:
    """Reference uploads a file or every file of a dir (sdk.py:1400-1488)."""
    dest = create_dataset(name)
    copied = []
    if os.path.isdir(file_or_dir):
        for f in sorted(os.listdir(file_or_dir)):
            src = os.path.join(file_or_dir, f)
            if os.path.isfile(src):
                shutil.copy2(src, dest)
                copied.append(f)
    else:
        shutil.copy2(file_or_dir, dest)
        copied.append(os.path.basename(file_or_dir))
    return copied


def list_dataset_files(name: str) -> list[str]:
    path = dataset_path(name)
    return sorted(os.listdir(path)) if os.path.isdir(path) else []


def download_from_dataset(name: str, dest_dir: str = ".") -> list[str]:
    files = list_dataset_files(name)
    for f in files:
        shutil.copy2(os.path.join(dataset_path(name), f), dest_dir)
    return files


def cache_show() -> dict[str, float]:
    """C15 — per-file cache sizes in GB (reference: sdk.py:1727-1755)."""
    from sutro_spark.operators.results import cache_dir

    root = cache_dir()
    sizes: dict[str, float] = {}
    if not os.path.isdir(root):
        return sizes
    for entry in sorted(os.listdir(root)):
        p = os.path.join(root, entry)
        total = 0
        if os.path.isdir(p):
            for dirpath, _, files in os.walk(p):
                total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        else:
            total = os.path.getsize(p)
        sizes[entry] = round(total / 1e9, 6)
    return sizes


def cache_clear() -> int:
    from sutro_spark.operators.results import cache_dir

    root = cache_dir()
    n = 0
    if os.path.isdir(root):
        n = len(os.listdir(root))
        shutil.rmtree(root)
    return n


DOCS_URL = "https://docs.sutro.sh"  # reference cli.py:384-388 click.launch target


def login(api_key: str, base_url: str | None = None) -> bool:
    """Reference ``sutro login`` (cli.py:88-134): validate the key,
    persist {api_key, base_url}. The stub engine authenticates any
    non-empty key offline."""
    from sutro_spark.plans.config import load_config, save_config

    if not api_key:
        return False
    prev = load_config()
    save_config(api_key, base_url if base_url is not None else prev.get("base_url", ""))
    return True


def set_base_url(base_url: str) -> str:
    """Reference ``sutro set-base-url`` (cli.py:390-396)."""
    from sutro_spark.plans.config import load_config, save_config

    cfg = load_config()
    return save_config(cfg.get("api_key", ""), base_url)


def _succeeded(job_id: str) -> bool:
    """Whether the results cache holds the job's complete results. A job
    lives in the registry of the process that submitted it; this is the
    only job state that outlives that process, only a succeeded job
    leaves it, and reading it starts no Spark session."""
    from sutro_spark.operators.results import cache_path, is_complete

    return is_complete(cache_path(job_id))


def jobs_status(job_id: str) -> str:
    """``jobs status`` (reference cli.py:204-214): SUCCEEDED or UNKNOWN,
    from the results cache."""
    return "SUCCEEDED" if _succeeded(job_id) else "UNKNOWN"


def jobs_attach(job_id: str | None, *, latest: bool = False) -> int:
    """``jobs attach [job_id] [--latest]`` (reference cli.py:419-435),
    from the results cache. ``--latest`` picks the newest job of the
    jobs list, which holds only the jobs its own process submitted, so
    the CLI's is always empty; no id and no flag is a usage message. A
    job with complete results is reported as already completed, the
    reference's done-job short-circuit (sdk.py:873-879)."""
    if latest:
        print("No jobs found.")
        return 1
    if not job_id:
        print("No job ID provided.")
        return 1
    if not _succeeded(job_id):
        print(f"Job {job_id} not found")
        return 1
    print(
        "Job already completed. You can obtain the results with"
        f" `sutro jobs results {job_id}`"
    )
    return 0


def jobs_cancel(job_id: str) -> int:
    """``jobs cancel`` (reference cli.py:264-276). Only the process
    running a job can cancel it; from the results cache an id is unknown
    or a succeeded job, past cancelling. Either way it exits 1."""
    print("Job is in succeeded state." if _succeeded(job_id) else f"Job {job_id} not found")
    return 1


def jobs_results(
    job_id: str,
    *,
    include_inputs: bool = False,
    include_cumulative_logprobs: bool = False,
    save: bool = False,
    save_format: str = "parquet",
    output_dir: str = ".",
) -> DataFrame | None:
    """``jobs results`` (reference cli.py:216-262): the job's
    ``SutroSpark.get_job_results`` view with the SDK defaults (in input
    order, outputs as ``inference_result``, unpacked with the job's
    stored schema), read through a fresh facade, with an optional
    parquet/csv save named after the job id; None when the cache holds
    no complete results for the id."""
    from sutro_spark.operators.results import save_results
    from sutro_spark.sdk import SutroSpark
    from sutro_spark.session import get_spark

    if not _succeeded(job_id):
        return None
    res = SutroSpark(get_spark("cli", cpus=4)).get_job_results(
        job_id,
        include_inputs=include_inputs,
        include_cumulative_logprobs=include_cumulative_logprobs,
    )
    if save:
        save_results(res, os.path.join(output_dir, f"{job_id}.{save_format}"), save_format)
    return res


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="sutro-spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    jobs_p = sub.add_parser("jobs")
    jobs_sub = jobs_p.add_subparsers(dest="jobs_cmd", required=True)
    jobs_sub.add_parser("list").add_argument("--all", action="store_true")
    jobs_sub.add_parser("status").add_argument("job_id")
    p = jobs_sub.add_parser("results")
    p.add_argument("job_id")
    p.add_argument("--include-inputs", action="store_true")
    p.add_argument("--include-cumulative-logprobs", action="store_true")
    p.add_argument("--save", action="store_true")
    p.add_argument("--save-format", choices=["parquet", "csv"], default="parquet")
    jobs_sub.add_parser("cancel").add_argument("job_id")
    p = jobs_sub.add_parser("attach")
    p.add_argument("job_id", nargs="?")
    p.add_argument("--latest", action="store_true")

    ds_p = sub.add_parser("datasets")
    ds_sub = ds_p.add_subparsers(dest="ds_cmd", required=True)
    ds_sub.add_parser("create").add_argument("name")
    ds_sub.add_parser("list")
    p = ds_sub.add_parser("files")
    p.add_argument("name")
    p = ds_sub.add_parser("upload")
    p.add_argument("name")
    p.add_argument("path")
    p = ds_sub.add_parser("download")
    p.add_argument("name")
    p.add_argument("dest", nargs="?", default=".")

    cache_p = sub.add_parser("cache")
    cache_sub = cache_p.add_subparsers(dest="cache_cmd", required=True)
    cache_sub.add_parser("show")
    cache_sub.add_parser("clear")

    sub.add_parser("quotas")
    p = sub.add_parser("login")
    p.add_argument("--api-key", required=True)  # non-interactive (no TTY prompt)
    p.add_argument("--base-url", default=None)
    sub.add_parser("set-base-url").add_argument("base_url")
    sub.add_parser("docs")

    args = parser.parse_args(argv)
    if args.cmd == "datasets":
        if args.ds_cmd == "create":
            print(create_dataset(args.name))
        elif args.ds_cmd == "list":
            print("\n".join(list_datasets()))
        elif args.ds_cmd == "files":
            print("\n".join(list_dataset_files(args.name)))
        elif args.ds_cmd == "upload":
            print("\n".join(upload_to_dataset(args.name, args.path)))
        elif args.ds_cmd == "download":
            print("\n".join(download_from_dataset(args.name, args.dest)))
    elif args.cmd == "cache":
        if args.cache_cmd == "show":
            for name, gb in cache_show().items():
                print(f"{name}\t{gb} GB")
        else:
            print(f"cleared {cache_clear()} entries")
    elif args.cmd == "quotas":
        from sutro_spark.plans.jobs import DEFAULT_QUOTAS

        for prio, q in sorted(DEFAULT_QUOTAS.items()):
            print(f"priority {prio}: rows<={q.max_rows} tokens<={q.max_tokens}")
    elif args.cmd == "login":
        if not login(args.api_key, args.base_url):
            print("Invalid API key. Try again.", file=sys.stderr)
            return 1
        print("Successfully authenticated. Welcome back!")
    elif args.cmd == "set-base-url":
        set_base_url(args.base_url)
        print(f"Base URL set to {args.base_url}.")
    elif args.cmd == "docs":
        # reference click.launch opens the browser (cli.py:384-388);
        # headless environments fall through to printing the target
        import webbrowser

        try:
            webbrowser.get().open(DOCS_URL)
        except webbrowser.Error:
            pass
        print(DOCS_URL)
    elif args.cmd == "jobs":
        if args.jobs_cmd == "status":
            print(jobs_status(args.job_id))
        elif args.jobs_cmd == "results":
            res = jobs_results(
                args.job_id,
                include_inputs=args.include_inputs,
                include_cumulative_logprobs=args.include_cumulative_logprobs,
                save=args.save,
                save_format=args.save_format,
            )
            if res is None:
                print(f"No results found for job {args.job_id}.", file=sys.stderr)
                return 1
            res.show(truncate=False)
            if args.save:
                print(f"Results saved to {args.job_id}.{args.save_format}")
        elif args.jobs_cmd == "cancel":
            return jobs_cancel(args.job_id)
        elif args.jobs_cmd == "attach":
            return jobs_attach(args.job_id, latest=args.latest)
        else:
            # jobs live in their own process's registry, so a new one
            # lists none: the CLI shows the reference's table, empty
            from sutro_spark.plans.jobs import JobRegistry
            from sutro_spark.session import get_spark

            format_jobs_table(
                JobRegistry(get_spark("cli", cpus=4)).jobs_table(),
                limit=None if args.all else 25,
            ).show(truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
