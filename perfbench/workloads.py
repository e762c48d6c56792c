"""The workloads: inputs, the closed-loop job, and the output check.

Each workload writes its seeded inputs to parquet during set-up; the
program only ever reads those files.  `steps()` lists the named Spark
steps of one closed-loop iteration, each ending in a `noop` sink; every
job a step starts runs under the job group "<workload>.<step>".
"""

from __future__ import annotations

import math
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from tracing import TAG_MEMO_CAP


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    why = ""
    replay_stages: tuple[str, ...] = ("extract_pages",)

    def __init__(self, workdir: str, seed: int, cores: int):
        self.workdir = workdir
        self.seed = seed
        self.cores = cores
        self.props: dict = {}
        # [(raw html bytes, content_type)] every Python worker parses,
        # until its tag memo is full, before timing; None: no such pages
        self.memo_pages: list | None = None

    def generate(self) -> None:
        raise NotImplementedError

    def load(self, spark) -> None:
        """Cache fill: make the inputs resident before timing."""

    def unload(self) -> None:
        pass

    def steps(self, spark) -> list[tuple[str, object]]:
        raise NotImplementedError

    def collect(self, spark):
        """Run the workload once, collecting what the check compares.
        This run doubles as the untimed warm-up iteration."""
        raise NotImplementedError

    def verify(self, outputs) -> dict:
        """Compare collected outputs with the known answers."""
        raise NotImplementedError

    def replay_pages(self) -> tuple[list, list]:
        """(fixed sample, warm-up pages) for the traced replay, as
        [(raw html bytes, content_type)]."""
        raise NotImplementedError


class CrawlFamilies(Workload):
    name = "crawl_families"
    why = ("unique attributes overflow the tag memo; links walk, "
           "header-seeded decode, hostile pages, and four parses per page "
           "joined on url")
    n_pages = 900
    # pages of a disjoint stream, enough to fill the tag memo: each worker
    # starts in the state a long crawl leaves it in (the common tags it
    # met first are memoized, every unique-attribute tag misses), whichever
    # pages it happens to get
    n_memo_pages = 1100
    sample_pages = 150
    replay_stages = ("extract_pages", "metadata_of", "tables_of",
                     "jsonld_of")

    def generate(self) -> None:
        self.table, self.expected, self.props = gen.crawl_pages(
            self.seed, self.n_pages)
        memo = gen.crawl_pages(self.seed, self.n_memo_pages, part="memo")[0]
        self.memo_pages = list(zip(memo.column("html").to_pylist(),
                                   memo.column("content_type").to_pylist()))
        self.path = os.path.join(self.workdir, f"{self.name}.parquet")
        pq.write_table(self.table, self.path,
                       row_group_size=max(1, self.n_pages // (2 * self.cores)))
        # each Python worker parses about its share of the pages
        self.props["distinct_raw_tags_per_worker"] = round(
            self.props["distinct_raw_tags"] / self.cores)
        self.props["worker_pages"] = self.n_pages // self.cores
        self.props["tag_memo_cap"] = TAG_MEMO_CAP

    def load(self, spark) -> None:
        self.unload()
        self.pages = (spark.read.parquet(self.path)
                      .repartition(2 * self.cores).cache())
        self.pages.count()

    def unload(self) -> None:
        if getattr(self, "pages", None) is not None:
            self.pages.unpersist(blocking=True)
            self.pages = None

    def replay_pages(self):
        pages = list(zip(self.table.column("html").to_pylist(),
                         self.table.column("content_type").to_pylist()))
        return pages[-self.sample_pages:], self.memo_pages

    def _joined(self):
        from closure_html_spark.spark.pipeline import (
            extract_pages, jsonld_of, metadata_of, tables_of)
        ext = extract_pages(self.pages, id_cols=("url",),
                            columns=("title", "extracted_text", "spans",
                                     "links", "anchors", "base", "charset"))
        md = metadata_of(self.pages).withColumnRenamed("title", "md_title")
        cells = tables_of(self.pages).groupBy("url").agg(
            F.count(F.lit(1)).alias("n_cells"))
        lds = jsonld_of(self.pages).groupBy("url").agg(
            F.count(F.lit(1)).alias("n_jsonld"))
        return (ext.join(md, "url", "left").join(cells, "url", "left")
                .join(lds, "url", "left"))

    def steps(self, spark):
        return [("extract_join", lambda: _noop(self._joined()))]

    fields = ("title", "md_title", "text_md5", "text_len", "charset",
              "n_links", "n_cells", "n_jsonld")

    def collect(self, spark):
        return [tuple(r) for r in
                self._joined()
                .select("url", "title", "md_title", F.md5("extracted_text"),
                        F.length("extracted_text"), "charset",
                        F.size("links"),
                        F.coalesce("n_cells", F.lit(0)),
                        F.coalesce("n_jsonld", F.lit(0)))
                .collect()]

    def verify(self, rows) -> dict:
        """rows: collected (url, *self.fields) tuples, self.fields naming
        Expected attributes in row order.  A wrong row is one whose values
        differ from the generator's answer; an error row is one the
        program marked charset='error:*'."""
        by_url = dict(zip(self.table.column("url").to_pylist(),
                          self.expected))
        wrong = errors = known = 0
        got_urls = set()
        for row in rows:
            url, vals = row[0], row[1:]
            got_urls.add(url)
            exp = by_url.get(url)
            if exp is None:
                wrong += 1
                continue
            if str(vals[self.fields.index("charset")]).startswith("error:"):
                errors += 1
                continue
            bad = [f for f, v in zip(self.fields, vals)
                   if v != getattr(exp, f)]
            if not bad:
                continue
            wrong += 1
            if bad == ["md_title"] and exp.header_only_charset:
                known += 1
        missing = len(by_url) - len(got_urls & by_url.keys())
        return {"attempted": len(by_url), "wrong": wrong + missing,
                "errors": errors, "known_defect": known,
                "known_defect_name":
                    "metadata_of ignores content_type: header-only "
                    "ISO-8859-1 titles decode wrongly"}


class CorpusDedup(Workload):
    name = "corpus_dedup"
    why = ("relational dedup chain: exchanges, joins and hand-placed "
           "localCheckpoints dominate; parsing is a small share")
    n_docs = 1000
    sample_docs = 400
    # the four queries with the most localCheckpoints and exchanges; with
    # dsir_weights and decontaminate as well, only two iterations fit a
    # run, and their wall read 30% apart between seeds
    QUERIES = ("corpus_clean_pipeline", "minhash_est_pairs",
               "incremental_dedup", "lm_perplexity")

    def generate(self) -> None:
        self.table, self.props = gen.corpus_documents(self.seed, self.n_docs)
        self.sf_dir = os.path.join(self.workdir, "corpus")
        os.makedirs(self.sf_dir, exist_ok=True)
        pq.write_table(self.table,
                       os.path.join(self.sf_dir, "documents.parquet"))

    def _query(self, name):
        import __spark_entry__ as entry
        return {**entry.queries(), **entry.aux_queries()}[name]

    def steps(self, spark):
        out = []
        for q in self.QUERIES:
            fn = self._query(q)
            # eager localCheckpoints run while the DataFrame is built, so
            # building it is part of the step
            out.append((q, lambda fn=fn: _noop(fn(spark, self.sf_dir))))
        return out

    def collect(self, spark):
        out = {}
        for q in self.QUERIES:
            group = f"{self.name}.{q}"
            spark.sparkContext.setJobGroup(group, group)
            out[q] = _normalize(self._query(q)(spark, self.sf_dir)
                                .toPandas())
        return out

    def verify(self, outputs):
        """Each query's rows against its DuckDB oracle SQL, on the
        generated parquet: order-insensitive, floats rounded to 6 places
        (the repository's oracle-gate comparison)."""
        import duckdb

        import __spark_entry__ as entry
        oracles = {**entry.oracle_sql(), **entry.aux_oracle_sql()}
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"'{self.sf_dir}/documents.parquet'")
            attempted = wrong = 0
            per_query = {}
            for q in self.QUERIES:
                got = outputs[q]
                want = _normalize(con.execute(oracles[q]).fetchdf())
                bad = _multiset_diff(got, want)
                attempted += max(len(got), len(want))
                wrong += bad
                per_query[q] = {"rows": len(want), "wrong": bad}
        finally:
            con.close()
        return {"attempted": attempted, "wrong": wrong, "errors": 0,
                "known_defect": 0, "per_query": per_query}

    def replay_pages(self):
        ids = self.table.column("doc_id").to_pylist()
        texts = self.table.column("text").to_pylist()
        pages = [(gen.template0_page(i, t), None) for i, t in zip(ids, texts)]
        return pages[-self.sample_docs:], pages[:-self.sample_docs]


def _normalize(df) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if hasattr(v, "item"):
                v = v.item()
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else round(v, 6)
            row.append(v)
        rows.append(tuple(row))
    return rows


def _multiset_diff(got: list[tuple], want: list[tuple]) -> int:
    """Rows that appear in one side more often than in the other, counted
    on the larger side."""
    from collections import Counter
    cg, cw = Counter(map(repr, got)), Counter(map(repr, want))
    return max(sum((cg - cw).values()), sum((cw - cg).values()))


WORKLOADS = {w.name: w for w in (CrawlFamilies, CorpusDedup)}
