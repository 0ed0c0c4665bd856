"""Seed-keyed fixture cache: the binlog, its columnar twin, the oracle's
digest of each replayed prefix and the distinct keys each log file changes.

A seed picks a log and a window in it. Seeds ``16 g`` to ``16 g + 15`` share
the log generated by ``sources.binlog_spark`` with generator seed ``g``, and
seed ``16 g + k`` starts its window ``k`` files into that log. Neighbouring
seeds therefore reuse one generated log, while a held-out seed far from the
ones used in development gets a log no development run has seen.

Fixtures are built on first use and reused afterwards, so set-up time
measures the engine and not the generator. Cache entries are complete only
once their ``_DONE`` marker exists.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from pyspark.sql import functions as F

EVENTS_PER_FILE = 2_000
SEEDS_PER_LOG = 16
# The most log files one run may use: the preload, the warm-up and over
# three times the timed batches a 15 s run applies unloaded on a 4-core host
# (see design.json, "inputs").
WINDOW = 48
N_DOCS = 12_000
# Log profiles: the share of events that hit the hottest 1% of documents.
HOT_MASS = {
    "skewed": 0.5,   # the generator's default hot-key skew
    "uniform": 0.0,  # every document is equally likely
}


def table_columns():
    return [("doc_id", "string"), ("tokens", "array<int>"), ("n_tok", "int"),
            ("source", "string")]


class Fixtures:
    def __init__(self, cache_dir: str, profile: str, seed: int):
        self.profile = profile
        self.generator_seed, self.offset = divmod(seed, SEEDS_PER_LOG)
        self.n_files = WINDOW + SEEDS_PER_LOG - 1
        self.dir = os.path.join(
            cache_dir,
            f"{profile}-g{self.generator_seed}-f{self.n_files}x{EVENTS_PER_FILE}"
            f"-d{N_DOCS}")
        os.makedirs(self.dir, exist_ok=True)

    def _cut(self, items: list) -> list:
        return items[self.offset: self.offset + WINDOW]

    # ------------------------------------------------------------ binlog
    @property
    def log_dir(self) -> str:
        return os.path.join(self.dir, "log")

    def _all_log_files(self) -> list[str]:
        return sorted(
            os.path.join(self.log_dir, f)
            for f in os.listdir(self.log_dir) if f.endswith(".txt")
        )

    def log_files(self, spark) -> list[str]:
        """This seed's window of the text binlog, one file per
        ``EVENTS_PER_FILE`` events, in stream order."""
        from concept_catalog_etl_spark.sources.binlog_spark import (
            generate_binlog_files,
        )

        marker = os.path.join(self.log_dir, "_DONE")
        if not os.path.exists(marker):
            shutil.rmtree(self.log_dir, ignore_errors=True)
            generate_binlog_files(
                spark, self.log_dir, self.n_files * EVENTS_PER_FILE,
                n_files=self.n_files, n_docs=N_DOCS,
                seed=self.generator_seed, hot_mass=HOT_MASS[self.profile],
            )
            open(marker, "w").close()
        return self._cut(self._all_log_files())

    # ------------------------------------------------------------ columnar
    @property
    def columnar_dir(self) -> str:
        return os.path.join(self.dir, "columnar")

    def columnar_groups(self, spark) -> list[str]:
        """Parquet twin of this seed's window, one group per text file."""
        from concept_catalog_etl_spark.lakehouse import TableSchema
        from concept_catalog_etl_spark.sources.columnar import (
            convert_binlog_to_columnar,
        )

        d = self.columnar_dir
        marker = os.path.join(d, "_DONE")
        if not os.path.exists(marker):
            shutil.rmtree(d, ignore_errors=True)
            self.log_files(spark)
            schema = TableSchema.create(table_columns(), key="doc_id")
            convert_binlog_to_columnar(spark, self._all_log_files(), schema, d,
                                       files_per_group=1)
            open(marker, "w").close()
        return self._cut(sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.startswith("chg-")
        ))

    # ------------------------------------------------------------ keys
    def distinct_keys(self, spark) -> list[int]:
        """Distinct document ids changed by each file of this seed's window.
        Malformed lines carry no key and are not counted."""
        path = os.path.join(self.dir, "keys.json")
        if not os.path.exists(path):
            self.log_files(spark)
            files = self._all_log_files()
            counts = {
                r["f"]: r["n"]
                for r in spark.read.text(files).select(
                    F.element_at(F.split(F.input_file_name(), "/"), -1).alias("f"),
                    F.get_json_object("value", "$.doc_id").alias("doc_id"),
                    F.get_json_object("value", "$.op").alias("op"),
                ).where(F.col("doc_id").isNotNull()
                        & F.col("op").isin("insert", "update", "delete"))
                .groupBy("f").agg(F.countDistinct("doc_id").alias("n")).collect()
            }
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                json.dump([counts.get(os.path.basename(p), 0) for p in files], f)
            os.replace(tmp, path)
        with open(path) as f:
            return self._cut(json.load(f))

    # ------------------------------------------------------------ oracle
    def oracle_digest(self, n_files: int) -> dict:
        """{"rows", "digest"} of the single-threaded oracle's final state
        after replaying the first ``n_files`` files of this seed's window."""
        from concept_catalog_etl_spark import oracle

        path = os.path.join(self.dir, "oracle.json")
        cache = {}
        if os.path.exists(path):
            with open(path) as f:
                cache = json.load(f)
        key = f"{self.offset}+{n_files}"
        if key not in cache:
            files = self._cut(self._all_log_files())[:n_files]
            final, _schema, _stats = oracle.replay(files, table_columns())
            cache[key] = digest_rows(final.values())
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(cache, f)
            os.replace(tmp, path)
        return cache[key]


def digest_rows(rows) -> dict:
    """Order-independent digest of table rows given as mappings with the
    ``table_columns()`` keys."""
    lines = sorted(
        json.dumps([r["doc_id"], list(r["tokens"]) if r["tokens"] is not None else None,
                    r["n_tok"], r["source"]])
        for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(lines), "digest": h.hexdigest()}
