"""CLI entry point: ``python -m nonconsumptive_spark <cmd> ...``

UX parity with the reference's ``nonconsumptive build --targets ...``
console script (commander.py:10-116).  The reference's multiprocess
machinery (greedy stack packing, subprocess Corpus clones,
corpus.py:363-379) has its counterpart in ``CorpusSession.build``: each
target's Spark jobs run from their own thread, so independent
targets overlap, and within one job ``df.write`` over a partitioned
DataFrame is the parallel path (SURVEY §3.3).

Commands:
  build      materialize transform targets into the checkpoint cache
  transforms list the named transforms of a corpus
  query      run a registered engine query against a test-table directory
"""

from __future__ import annotations

import argparse
import sys


def _corpus(args):
    from nonconsumptive_spark.corpus import CorpusSession
    from nonconsumptive_spark.session import get_spark

    return CorpusSession(
        get_spark("nc-spark-cli"),
        texts=args.texts,
        metadata=args.metadata,
        bookstacks=args.bookstacks,
        cache_dir=args.cache_dir,
        text_format=args.format,
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="nonconsumptive_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def add_corpus_args(sp):
        sp.add_argument("--texts", help="folder of text files")
        sp.add_argument("--metadata", help="catalog file (csv/ndjson/parquet)")
        sp.add_argument("--bookstacks", help="pre-partitioned parquet dir")
        sp.add_argument("--cache-dir", help="checkpoint cache directory")
        sp.add_argument("--format", default="txt", help="text file suffix")

    b = sub.add_parser("build", help="materialize targets (reference CLI parity)")
    add_corpus_args(b)
    b.add_argument("--targets", nargs="+", required=True,
                   help="transform names, e.g. tokenization unigrams srp")

    t = sub.add_parser("transforms", help="list named transforms")
    add_corpus_args(t)

    q = sub.add_parser("query", help="run a registered query")
    q.add_argument("name", help="query name from the registry (or 'list')")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--limit", type=int, default=20)

    args = p.parse_args(argv)

    if args.cmd == "build":
        c = _corpus(args)
        c.build(args.targets)
        for tgt in args.targets:
            print(f"built {tgt} -> {c.cache.path_for(tgt)}")
        return 0

    if args.cmd == "transforms":
        print("\n".join(_corpus(args).transforms()))
        return 0

    if args.cmd == "query":
        from nonconsumptive_spark.queries import all_queries
        from nonconsumptive_spark.session import get_spark

        registry = all_queries()
        if args.name == "list":
            print("\n".join(sorted(registry)))
            return 0
        if args.name not in registry:
            print(f"unknown query {args.name!r}; try 'list'", file=sys.stderr)
            return 2
        df = registry[args.name].spark_fn(get_spark("nc-spark-cli"),
                                          args.sf_dir)
        df.show(args.limit, truncate=False)
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())
