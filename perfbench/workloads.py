"""The benchmark workloads. Each is one complete batch job per run:

* ``setup`` generates the seeded documents and materializes the pages.
* ``expect`` computes the expected outputs, untimed.
* ``run`` is the timed job. Every output column is forced through a real
  write, and DataFrame construction sits inside the timed window.
* ``check`` compares one run's output byte for byte, untimed, and returns
  the ids of the documents without a correct output row.

The engine is only called, never changed.
"""

from __future__ import annotations

import contextlib
import glob
import os
import re
import time
from collections import Counter

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from ocr_spark.config import BLOCK_SEPARATOR
from ocr_spark.kernels.synth import url_for_doc

# verify_pairs scores above this are the duplicates keep_representatives drops
DUP_JACCARD = 0.7


def _read(path: str, columns: list[str]) -> dict:
    return pq.read_table(path, columns=columns).to_pydict()


def _by_url(corpus: gen.Corpus, texts) -> dict[str, str]:
    return {
        url_for_doc(d, s): t
        for d, s, t in zip(corpus.doc_id, corpus.source, texts)
    }


def _sample_pages(path: str, n: int) -> list[bytes]:
    t = pq.read_table(path, columns=["url", "html"]).to_pydict()
    order = sorted(range(len(t["url"])), key=t["url"].__getitem__)[:n]
    return [t["html"][i] for i in order]


def _text_failures(got_urls, got_texts, expected: dict[str, str]) -> set[str]:
    """Expected keys without exactly one byte-identical row."""
    seen = Counter(got_urls)
    got = dict(zip(got_urls, got_texts))
    return {u for u, t in expected.items() if seen[u] != 1 or got[u] != t}


class Workload:
    name: str
    spec: gen.Spec
    corpus: gen.Corpus
    sf_dir: str

    def setup(self, spark, work: str, seed: int) -> None:
        self.corpus = gen.generate(self.spec, seed)
        self.sf_dir = gen.write_documents(self.corpus.table(), os.path.join(work, "docs"))

    @property
    def n_docs(self) -> int:
        """Documents one job attempts."""
        return len(self.corpus.doc_id)

    @property
    def page_docs(self) -> int:
        """Pages one job sends through the HTML kernels."""
        return self.n_docs

    def shares(self) -> dict:
        """What the seed drew, for the report line."""
        return gen.measured_shares(self.corpus)

    def sample_pages(self, n: int) -> list[bytes]:
        """Up to ``n`` of this workload's own pages, smallest urls first."""
        return []

    @property
    def scan_path(self) -> str:
        """Path of the input the job scans, as its FileScan node shows it."""
        return self.sf_dir

    @contextlib.contextmanager
    def instrumented(self, tracer):
        """Traced runs only: extra spans around calls inside the job."""
        yield

    def layer_counts(self, run: str, spark, out: str, result: dict) -> dict:
        """Traced runs only: work counts read from one run's output."""
        return {}


class HtmlCrawl(Workload):
    """HTML-only pages → ``sinks.partitioned.extract_and_write`` into a
    fresh directory, then one restart with resume on."""

    name = "html_crawl"
    spec = gen.Spec(n_docs=1000, min_words=8, max_words=90, max_paragraphs=3)

    def setup(self, spark, work, seed):
        # the page rows sources.pages.pages_from_documents builds, with a
        # paragraph count per document instead of one per table
        import pandas as pd

        from ocr_spark.kernels.synth import warc_ts_for_doc, wrap_html
        from ocr_spark.sources.pages import PAGES_SCHEMA

        c = self.corpus = gen.generate(self.spec, seed)
        urls = [url_for_doc(d, s) for d, s in zip(c.doc_id, c.source)]
        pages = pd.DataFrame({
            "url": urls,
            "warc_ts": [pd.Timestamp(warc_ts_for_doc(d), unit="s") for d in c.doc_id],
            "html": [wrap_html(t, u, n_paragraphs=p)
                     for t, u, p in zip(c.text, urls, c.paragraphs)],
            "text": c.text,
            "lang": c.lang,
        })
        self.pages_dir = os.path.join(work, "pages")
        spark.createDataFrame(pages, schema=PAGES_SCHEMA).write.parquet(self.pages_dir)

    @property
    def scan_path(self):
        return self.pages_dir

    def expect(self, spark):
        def paragraphs(text: str, p: int) -> str:
            # wrap_html's split of a document into p <p> blocks
            if p <= 1:
                return text
            words = text.split(" ")
            step = max(1, len(words) // p)
            paras = (" ".join(words[i : i + step]) for i in range(0, len(words), step))
            return BLOCK_SEPARATOR.join(x for x in paras if x)

        self.expected = _by_url(
            self.corpus,
            [paragraphs(t, p) for t, p in zip(self.corpus.text, self.corpus.paragraphs)],
        )

    def sample_pages(self, n):
        return _sample_pages(self.scan_path, n)

    def run(self, spark, out, tracer):
        from ocr_spark.sinks.partitioned import extract_and_write

        t0 = time.perf_counter()
        with tracer.span("sinks.partitioned.extract_and_write"):
            first = extract_and_write(spark, spark.read.parquet(self.pages_dir), out)
        t1 = time.perf_counter()
        with tracer.span("sinks.partitioned.extract_and_write[restart]"):
            again = extract_and_write(spark, spark.read.parquet(self.pages_dir), out)
        t2 = time.perf_counter()
        return {"job_s": t1 - t0, "resume_s": t2 - t1, "first": first, "again": again}

    def check(self, spark, out, result):
        from ocr_spark.sinks.partitioned import verify_lineage

        rows = _read(f"{out}/data", ["url", "extracted_text", "crawl_date"])
        failed = _text_failures(rows["url"], rows["extracted_text"], self.expected)
        date_of = dict(zip(rows["url"], (str(d) for d in rows["crawl_date"])))
        # a partition whose stored lineage disagrees with its data fails all
        # of its rows; so does a date the first call skipped or the
        # restart re-processed
        bad_dates = {str(r.crawl_date) for r in verify_lineage(spark, out).collect()}
        bad_dates |= {str(d) for d in result["first"]["dates_skipped"]}
        bad_dates |= {str(d) for d in result["again"]["dates_processed"]}
        failed |= {u for u in self.expected if date_of.get(u) in bad_dates}
        return failed

    @contextlib.contextmanager
    def instrumented(self, tracer):
        """Spans around the sink's own calls, by patching the module
        attributes ``extract_and_write`` looks up at call time."""
        import ocr_spark.operators.extract_html as extract_html
        import ocr_spark.sinks.partitioned as partitioned
        import ocr_spark.sinks.tableio as tableio

        def wrap(fn, name_of):
            def traced(*args, **kwargs):
                with tracer.span(name_of(*args)):
                    return fn(*args, **kwargs)

            return traced

        patches = [
            (tableio, "write_table", lambda df, ident, *a: (
                "sinks.tableio.write_table[lineage]" if ident.endswith("/_lineage")
                else "sinks.tableio.write_table[data]")),
            (partitioned, "read_manifest", lambda *a: "sinks.partitioned.read_manifest"),
            (extract_html, "extract_pages", lambda *a: "operators.extract_html.extract_pages"),
        ]
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
        try:
            for mod, attr, name_of in patches:
                setattr(mod, attr, wrap(getattr(mod, attr), name_of))
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)


class NoisyOcr(Workload):
    """Pages embedding two noisy bitmap-font lines in the mixed container
    cycle → ``operators.pipeline.extract_full(recognizer="font")``."""

    name = "noisy_ocr"
    spec = gen.Spec(n_docs=300, min_words=8, max_words=90)

    def setup(self, spark, work, seed):
        from ocr_spark.sources.pages import pages_with_noisy_font_images_from_documents

        super().setup(spark, work, seed)
        # the page fixture cache lives in this setup's own directory, so no
        # page cached by another fixture version can reach a run
        os.environ["SPARK_GRAFT_FIXTURE_CACHE"] = os.path.join(work, "fixture_cache")
        pages_with_noisy_font_images_from_documents(spark, self.sf_dir)

    def expect(self, spark):
        # the closed form of the extract_full oracle: text, then the two
        # embedded lines (first 20 alphanumerics, "line<doc_id>")
        self.expected = _by_url(
            self.corpus,
            [
                BLOCK_SEPARATOR.join([t, re.sub(r"[^0-9a-zA-Z]", "", t)[:20], f"line{d}"])
                for d, t in zip(self.corpus.doc_id, self.corpus.text)
            ],
        )

    @property
    def scan_path(self):
        (cache,) = glob.glob(os.path.join(os.environ["SPARK_GRAFT_FIXTURE_CACHE"], "pages_noisy-*"))
        return cache

    def sample_pages(self, n):
        return _sample_pages(self.scan_path, n)

    def run(self, spark, out, tracer):
        from ocr_spark.operators.pipeline import extract_full
        from ocr_spark.sources.pages import pages_with_noisy_font_images_from_documents

        t0 = time.perf_counter()
        with tracer.span("sources.pages.pages_with_noisy_font_images_from_documents"):
            pages = pages_with_noisy_font_images_from_documents(spark, self.sf_dir)
        with tracer.span("operators.pipeline.extract_full"):
            full = extract_full(pages, recognizer="font")
        with tracer.span("write[operators.pipeline.extract_full]"):
            full.write.parquet(out)
        return {"job_s": time.perf_counter() - t0}

    def check(self, spark, out, result):
        rows = _read(out, ["url", "extracted_text"])
        return _text_failures(rows["url"], rows["extracted_text"], self.expected)


class DedupCorpus(Workload):
    """Documents with a controlled near-duplicate share →
    ``lsh_candidate_pairs`` → ``verify_pairs`` and ``dup_clusters`` →
    ``keep_representatives``."""

    name = "dedup_corpus"
    page_docs = 0
    spec = gen.Spec(n_docs=500, min_words=30, max_words=90, near_dup_share=0.2)

    def expect(self, spark):
        """The DuckDB oracles of ``__spark_entry__.oracle_sql()``, on the
        same table. ``dedup_verified`` keeps every candidate pair (its Jaccard floor is
        0), so its pairs are the LSH candidates, and the ``dedup_clusters``
        recursive CTE runs over them materialized: the same SQL as
        ``oracle_sql()["dedup_clusters"]``, without recomputing the LSH
        stage in every recursion step."""
        import duckdb

        import __spark_entry__

        con = duckdb.connect()
        try:
            path = os.path.join(self.sf_dir, "documents.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            con.execute(
                "CREATE TABLE verified AS " + __spark_entry__.oracle_sql()["dedup_verified"]
            )
            verified = con.execute("SELECT * FROM verified").fetchall()
            clusters = con.execute(__spark_entry__._dedup_clusters_oracle_sql(
                "SELECT doc_id_a, doc_id_b FROM verified"
            )).fetchall()
        finally:
            con.close()
        self.verified = {(a, b): j for a, b, j in verified}
        self.clusters = dict(clusters)
        dropped = {b for (_, b), j in self.verified.items() if j >= DUP_JACCARD}
        table = self.corpus.table().to_pylist()
        self.representatives = {r["doc_id"]: r for r in table if r["doc_id"] not in dropped}

    def run(self, spark, out, tracer):
        from ocr_spark.operators.dedup import (
            dup_clusters,
            keep_representatives,
            lsh_candidate_pairs,
            verify_pairs,
        )

        t0 = time.perf_counter()
        docs = spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet"))
        with tracer.span("operators.dedup.lsh_candidate_pairs"):
            pairs = lsh_candidate_pairs(docs, n_bands=4, rows_per_band=2)
        with tracer.span("operators.dedup.verify_pairs"):
            verified = verify_pairs(docs, pairs)
        with tracer.span("write[operators.dedup.verify_pairs]"):
            verified.write.parquet(f"{out}/verified")
        with tracer.span("operators.dedup.dup_clusters"):
            clusters = dup_clusters(pairs)
        with tracer.span("write[operators.dedup.dup_clusters]"):
            clusters.write.parquet(f"{out}/clusters")
        with tracer.span("operators.dedup.keep_representatives"):
            reps = keep_representatives(
                docs,
                spark.read.parquet(f"{out}/verified").filter(F.col("jaccard") >= DUP_JACCARD),
            )
        with tracer.span("write[operators.dedup.keep_representatives]"):
            reps.write.parquet(f"{out}/representatives")
        return {"job_s": time.perf_counter() - t0, "pairs": pairs}

    def check(self, spark, out, result):
        failed = set()
        v = _read(f"{out}/verified", ["doc_id_a", "doc_id_b", "jaccard"])
        got = list(zip(v["doc_id_a"], v["doc_id_b"], v["jaccard"]))
        for a, b, j in set(got) ^ {(a, b, j) for (a, b), j in self.verified.items()}:
            failed |= {a, b}
        if len(got) != len(set(got)):
            failed |= {a for a, _, _ in got} | {b for _, b, _ in got}
        c = _read(f"{out}/clusters", ["doc_id", "cluster_rep"])
        got_c = list(zip(c["doc_id"], c["cluster_rep"]))
        failed |= {d for d, _ in set(got_c) ^ set(self.clusters.items())}
        if len(got_c) != len(self.clusters):
            failed |= set(self.clusters)
        r = pq.read_table(f"{out}/representatives").to_pylist()
        got_r = {row["doc_id"]: row for row in r}
        failed |= set(got_r) ^ set(self.representatives)
        failed |= {d for d, row in got_r.items() if self.representatives.get(d, row) != row}
        if len(r) != len(got_r):
            failed |= set(got_r)
        return failed

    def layer_counts(self, run, spark, out, result):
        v = _read(f"{out}/verified", ["jaccard"])["jaccard"]
        return {
            "candidate_pairs": result["pairs"].count(),
            "verified_pairs": sum(j >= DUP_JACCARD for j in v),
            "cc_rounds": self.rounds[run],
        }

    @contextlib.contextmanager
    def instrumented(self, tracer):
        """Counts label-propagation rounds: ``dup_clusters`` runs one
        convergence ``count()`` per round."""
        from pyspark.sql.classic.dataframe import DataFrame

        count = DataFrame.count
        self.rounds = Counter()

        def counted(df):
            if any(s["end"] is None and s["name"] == "operators.dedup.dup_clusters"
                   for s in tracer.spans):
                self.rounds[tracer.run_id] += 1
            return count(df)

        DataFrame.count = counted
        try:
            yield
        finally:
            DataFrame.count = count


class CrawlDedup(Workload):
    """A crawl batch: the ``HtmlCrawl`` job, then the ``DedupCorpus`` job
    over a second seeded corpus. ``job_s`` is the sum of the two; the
    sink's restart stays outside it, as in ``HtmlCrawl``."""

    name = "crawl_dedup"

    def __init__(self):
        self.crawl, self.dedup = HtmlCrawl(), DedupCorpus()
        self.parts = {"crawl": self.crawl, "dedup": self.dedup}

    def setup(self, spark, work, seed):
        self.work = work
        for name, part in self.parts.items():
            part.setup(spark, os.path.join(work, name), seed)

    @property
    def n_docs(self):
        return self.crawl.n_docs + self.dedup.n_docs

    @property
    def page_docs(self):
        return self.crawl.page_docs

    def shares(self):
        return {name: part.shares() for name, part in self.parts.items()}

    @property
    def scan_path(self):
        # both inputs, and none of the job's outputs, lie under it
        return self.work

    def expect(self, spark):
        for part in self.parts.values():
            part.expect(spark)

    def sample_pages(self, n):
        return self.crawl.sample_pages(n)

    def run(self, spark, out, tracer):
        result = {name: part.run(spark, os.path.join(out, name), tracer)
                  for name, part in self.parts.items()}
        return {
            "job_s": sum(r["job_s"] for r in result.values()),
            "resume_s": result["crawl"]["resume_s"],
            **result,
        }

    def check(self, spark, out, result):
        return set().union(*(
            part.check(spark, os.path.join(out, name), result[name])
            for name, part in self.parts.items()
        ))

    def layer_counts(self, run, spark, out, result):
        return self.dedup.layer_counts(
            run, spark, os.path.join(out, "dedup"), result["dedup"])

    @contextlib.contextmanager
    def instrumented(self, tracer):
        with contextlib.ExitStack() as stack:
            for part in self.parts.values():
                stack.enter_context(part.instrumented(tracer))
            yield


WORKLOADS = {w.name: w for w in (CrawlDedup, NoisyOcr)}
