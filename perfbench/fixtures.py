"""Cached inputs the workloads open instead of building.

Indexes are keyed by the digest of the package sources, so the code
under test always serves an index it built itself; corpora and oracle
answers depend only on the inputs and are keyed by size.
A missing fixture is built in a child process, so its Spark session and
memory never show up in the run that needed it:

    python3 perfbench/fixtures.py serve|live
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, oracle, workloads  # noqa: E402


class Fixtures:
    def __init__(self, work: str, event_log: str | None = None):
        self.work = work
        self.event_log = event_log
        self.digest = common.source_digest()
        idx = os.path.join(common.CACHE, f"idx-{self.digest}")
        orc = os.path.join(common.CACHE, "oracle")
        n, m = workloads.SERVE_DOCS, workloads.LIVE_BASE_DOCS
        self.serve_corpus = os.path.join(common.CACHE, "corpus", f"serve-{n}.parquet")
        self.live_corpus = os.path.join(common.CACHE, "corpus", f"live-{m}.parquet")
        self.serve_index = os.path.join(idx, f"serve-{n}")
        self.family_root = os.path.join(idx, f"family-{n}")
        self.live_base = os.path.join(idx, f"live-{m}")
        self.serve_oracle = os.path.join(orc, f"serve-{n}")
        self.live_oracle = os.path.join(orc, f"live-{m}")
        self.pool_answers = os.path.join(orc, f"serve-{n}-pool.json")
        self.cold_pool_answers = os.path.join(orc, f"serve-{n}-cold-pool.json")
        self._spark = None

    # ------------------------------------------------------------ presence
    def _targets(self, kind: str) -> list[str]:
        if kind == "serve":
            return [self.serve_index, self.family_root, self.serve_oracle, self.pool_answers,
                    self.cold_pool_answers]
        return [self.live_base, self.live_oracle]

    def ensure(self) -> bool:
        """Build every missing fixture, each kind in a child process; True
        when something was built.  All of them, whichever workload asks,
        so the first run in a checkout pays for every later one."""
        missing = [k for k in ("serve", "live")
                   if not all(os.path.exists(p) for p in self._targets(k))]
        for kind in missing:
            subprocess.run([sys.executable, os.path.abspath(__file__), kind],
                           check=True, stdout=sys.stderr, cwd=common.ROOT)
        return bool(missing)

    # --------------------------------------------------------------- spark
    def spark(self):
        if self._spark is None:
            self._spark = common.spark_session(self.work, self.event_log)
        return self._spark

    def stop_spark(self) -> None:
        """Stop the session and wait for its JVM (and so its Python
        workers) to exit."""
        if self._spark is None:
            return
        from pyspark import SparkContext

        self._spark.stop()
        self._spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -------------------------------------------------------------- build
    def build(self, kind: str) -> None:
        from data_prepper_spark.index.build import build_oneshot
        from data_prepper_spark.index.config import IndexConfig
        from data_prepper_spark.index.family import build_family
        from data_prepper_spark.index.live import apply_batch

        cfg = IndexConfig(**common.INDEX_CFG)
        spark = self.spark()
        con = oracle.connect()
        if kind == "serve":
            if not os.path.exists(self.serve_corpus):
                common.write_pages(self.serve_corpus, workloads.serve_indices())
            pages = spark.read.parquet(self.serve_corpus)
            if not os.path.exists(self.serve_index):
                _publish(self.serve_index, lambda d: build_oneshot(
                    spark, pages, d, cfg, field_cols=("lang", "warc_ts")))
            if not os.path.exists(self.family_root):
                _publish(self.family_root, lambda d: build_family(
                    spark, pages, d, cfg, pattern="yyyy.MM.dd", mode="pages",
                    field_cols=("lang", "warc_ts"), parallelism=2))
            oracle.load_pages(con, "serve", self.serve_corpus)
            if not os.path.exists(self.serve_oracle):
                _publish(self.serve_oracle, lambda d: oracle.save_tables(con, "serve", d))
            orc = oracle.BM25Oracle(con, "serve_docs", "serve_post")
            for path, pool in ((self.pool_answers, workloads.hot_pool()),
                               (self.cold_pool_answers, workloads.cold_pool())):
                if not os.path.exists(path):
                    common.write_json_atomic(path, {
                        workloads.op_key(op): workloads.expected(op, orc) for op in pool
                    })
        elif kind == "live":
            if not os.path.exists(self.live_corpus):
                common.write_pages(self.live_corpus, workloads.live_base_indices())
            pages = spark.read.parquet(self.live_corpus)
            if not os.path.exists(self.live_base):
                _publish(self.live_base, lambda d: apply_batch(spark, pages, 0, d, cfg))
            if not os.path.exists(self.live_oracle):
                oracle.load_pages(con, "live", self.live_corpus)
                _publish(self.live_oracle, lambda d: oracle.save_tables(con, "live", d))
        else:
            raise ValueError(f"unknown fixture {kind!r}")
        con.close()
        self.stop_spark()


def _publish(target: str, make) -> None:
    """Run *make(tmp_dir)* and move the result into place in one rename."""
    tmp = f"{target}.building"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.dirname(target), exist_ok=True)
    make(tmp)
    os.replace(tmp, target)


def main(argv: list[str]) -> int:
    if len(argv) != 1 or argv[0] not in ("serve", "live"):
        print(__doc__, file=sys.stderr)
        return 2
    work = common.fresh_dir(os.path.join(common.CACHE, "runs", f"fixture-{os.getpid()}"))
    try:
        common.prepare_env(work)
        Fixtures(work).build(argv[0])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
