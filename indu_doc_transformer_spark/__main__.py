"""Command-line entry point: ``python -m indu_doc_transformer_spark``.

Mirrors the reference CLI's surface (/root/reference/src/indu_doc/
cli.py:135-217 — input document, -c aspects config, -e extraction
settings, stats display, --export with --export-format, logging
flags), re-expressed for a Spark pipeline: the input is a documents
table / WARC archive / synthetic corpus instead of one PDF, the output
is a directory of entity tables, and Ctrl-C maps to the cooperative
stop surface (plans.checkpoint.ProcessingControl — the reference's
manager.stop_processing analog, cli.py:115-121) with resume-from-
registry on rerun.

    python -m indu_doc_transformer_spark INPUT -o OUT \
        [-c aspects.json] [-e page_setups.json] [--no-stats] \
        [--no-progress] [--export DIR] [--export-format json] \
        [-v | --log-level L] [--log-file F] [--out-to-std] \
        [--buckets N] [--master URL]

INPUT forms: a parquet path/table of documents (url, warc_ts, html,
lang); a ``*.warc``/``*.warc.gz`` path or glob; or ``synth:N`` for the
deterministic N-document corpus.
"""

from __future__ import annotations

import argparse
import json
import logging
import signal
import sys

log = logging.getLogger("indu_doc_transformer_spark.cli")


def setup_logging(level: str, log_file: str | None, out_to_std: bool) -> None:
    """Reference cli.py:22-50 semantics: stdout only when requested,
    file handler when given, else a null handler."""
    numeric = getattr(logging, level.upper(), None)
    if not isinstance(numeric, int):
        raise SystemExit(f"Invalid log level: {level}")
    handlers: list[logging.Handler] = []
    if out_to_std:
        handlers.append(logging.StreamHandler(sys.stdout))
    if log_file:
        handlers.append(logging.FileHandler(log_file))
    if not handlers:
        handlers.append(logging.NullHandler())
    logging.basicConfig(
        level=numeric,
        format="%(asctime)s - %(name)s - %(levelname)s - %(message)s",
        handlers=handlers,
        force=True,
    )


def format_stats(rows) -> str:
    """'Processing Statistics:' block (reference cli.py:62-71)."""
    out = ["Processing Statistics:", "=" * 20]
    for r in sorted(rows, key=lambda r: r["table"]):
        name = r["table"].replace("_", " ").title()
        out.append(f"{name}: {r['n']}")
    return "\n".join(out)


def load_input(spark, spec: str):
    from .sources.catalog import read_table
    from .sources.corpus import corpus_df
    from .sources.warc import read_warc

    if spec.startswith("synth:"):
        return corpus_df(spark, int(spec.split(":", 1)[1]))
    # WARC only on an explicit extension (directly or behind a glob):
    # a bare substring match would misroute e.g. a
    # 'crawl.warc_extracted.parquet' table into the archive parser
    if spec.rstrip("*/?").endswith((".warc", ".warc.gz")):
        return read_warc(spark, spec)
    return read_table(spark, spec)


def build_parser() -> argparse.ArgumentParser:
    from .operators.sinks import EXPORTERS

    ap = argparse.ArgumentParser(
        prog="python -m indu_doc_transformer_spark",
        description="Process a documents table / WARC archive and "
        "extract structured entity tables.",
    )
    ap.add_argument("input", help="documents parquet/table, *.warc[.gz], or synth:N")
    ap.add_argument("-o", "--out", required=True, help="output directory (entity tables + registry)")
    ap.add_argument("-c", "--config", dest="config_file",
                    help="aspects configuration JSON (default: built-in levels)")
    ap.add_argument("-e", "--extraction-settings", dest="extraction_settings",
                    help="page-setups JSON (default: built-in setups)")
    ap.add_argument("--no-stats", action="store_true",
                    help="disable processing statistics display")
    ap.add_argument("--no-progress", action="store_true",
                    help="disable progress display during processing")
    ap.add_argument("--export", help="export entity tables under this "
                    "directory (for --export-format sqlite: the .db "
                    "file path, reference db_builder schema)")
    ap.add_argument("--export-format",
                    choices=list(EXPORTERS),
                    default="json",
                    help="export format via the exporter table "
                    "(operators/sinks.py; default: json)")
    ap.add_argument("-v", "--verbose", action="store_true",
                    help="verbose logging (equivalent to --log-level DEBUG)")
    ap.add_argument("--log-level", default="INFO",
                    choices=["DEBUG", "INFO", "WARNING", "ERROR", "CRITICAL"])
    ap.add_argument("--log-file", help="write logs to file")
    ap.add_argument("--out-to-std", action="store_true",
                    help="enable logging output to stdout (disabled by default)")
    ap.add_argument("--buckets", type=int, default=32,
                    help="checkpoint bucket count (default 32)")
    ap.add_argument("--master", default=None, help="Spark master override")
    return ap


def main(argv: list[str] | None = None, spark=None) -> int:
    """``spark=None`` (production) creates and owns the session;
    passing one (tests, notebooks) reuses it and leaves it running."""
    args = build_parser().parse_args(argv)
    setup_logging("DEBUG" if args.verbose else args.log_level,
                  args.log_file, args.out_to_std)

    from .config import DEFAULT_ASPECTS, AspectsConfig, page_setups_from_json
    from .operators import export as ex_op
    from .pipeline import ENTITY_TABLES, run_full
    from .plans.checkpoint import ProcessingControl
    from .plans.session import get_spark

    config = DEFAULT_ASPECTS
    if args.config_file:
        with open(args.config_file) as f:
            config = AspectsConfig.from_json_str(f.read())
    setups_json = None
    if args.extraction_settings:
        with open(args.extraction_settings) as f:
            setups_json = f.read()
        page_setups_from_json(setups_json)  # validate eagerly, fail fast

    owns_spark = spark is None
    if owns_spark:
        spark = get_spark(
            master=args.master,
            app_name="indu-doc-cli",
            extra_conf={"spark.sql.files.maxPartitionBytes": "12m"},
        )
    control = ProcessingControl(spark)

    def on_sigint(signum, frame):
        # first Ctrl-C: cooperative stop; a second one falls through to
        # the default handler (hard kill — the registry still resumes).
        # Re-arm SIG_DFL BEFORE stopping, and run stop() on its own
        # thread: the handler fires nested inside the main thread's
        # in-flight py4j call, and under pinned-thread mode a reentrant
        # cancelJobGroup on that same thread-bound connection would
        # deadlock until the blocked call returns
        import threading

        signal.signal(signal.SIGINT, signal.SIG_DFL)
        print("\n\nStopping processing...", flush=True)
        threading.Thread(target=control.stop, daemon=True).start()

    old_sigint = signal.getsignal(signal.SIGINT)
    try:
        signal.signal(signal.SIGINT, on_sigint)
    except ValueError:
        old_sigint = None  # non-main thread (embedded use): skip

    def on_chunk(idx, n_chunks, buckets):
        if not args.no_progress:
            pct = 100.0 * idx / n_chunks
            print(f"\rchunk {idx + 1}/{n_chunks} (buckets {buckets[0]}"
                  f"-{buckets[-1]}): {pct:.1f}%", end="", flush=True)

    try:
        docs = load_input(spark, args.input)
        print(f"Processing: {args.input}")
        stats = run_full(
            docs, args.out, num_buckets=args.buckets, config=config,
            control=control, on_chunk=on_chunk, page_setups_json=setups_json,
        )
        print()
        print(f"Extraction: {stats['processed_chunks']} chunk(s) run, "
              f"{stats['chunk_size']} bucket(s) per chunk, "
              f"{stats['kernel_partitions']} kernel task(s) per chunk")
        if stats.get("stopped"):
            print("Processing stopped. Re-run with the same --out to resume "
                  f"({stats['processed_chunks']} chunks completed this run).")
            return 130
        log.info("pipeline stats: %s", json.dumps({
            k: v for k, v in stats.items() if k != "observed"}))
        tables = {
            name: spark.read.parquet(f"{args.out}/{name}")
            for name in ENTITY_TABLES
        }
        if not args.no_stats:
            rows = [r.asDict() for r in ex_op.stats(tables).collect()]
            print(format_stats(rows))
        if args.export:
            from .operators.sinks import export_tables

            # documents= feeds real blobs to sinks that embed them
            # (sqlite documentmodel.file); other formats ignore it
            export_tables(tables, args.export, format=args.export_format,
                          config=config, documents=docs)
            print(f"Data exported to: {args.export}")
        print("Processing completed successfully!")
        return 0
    except KeyboardInterrupt:
        print("\nProcessing stopped.")
        return 130
    except Exception as e:  # reference cli.py:174-177: message + exit 1
        log.error("Processing failed: %s", e)
        print(f"Error: {e}", file=sys.stderr)
        return 1
    finally:
        if old_sigint is not None:
            signal.signal(signal.SIGINT, old_sigint)
        if owns_spark:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
