"""End-to-end TF-IDF pipeline facade (reference DAG, SURVEY.md §3.1).

Wires S1→P1→P2→P3/P4→P5→P6→P8/P9/P10→P11→P12/P13 as ONE lazy logical plan
per output. The reference runs this as 11 MapReduce jobs with HDFS text
files between every pair; here each requested output is a single Spark
action and Catalyst shares/reuses the common prefix. The cached
materialization point is ``token_counts()`` — the (doc, token, count)
aggregate the dictionary and every matrix stage fan out from, so the
corpus is tokenized exactly once.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_lab02_spark.functions.text import tokenize
from bigdata_lab02_spark.operators import category as cat_ops
from bigdata_lab02_spark.operators import encode, matrix
from bigdata_lab02_spark.sources.corpus import read_corpus


def load_stopwords(spark: SparkSession, path: str) -> list[str]:
    """Read a one-word-per-line stopword file to a driver-side list (it is a
    ~300-entry dimension; becomes a codegen'd literal set in the filter)."""
    return [r[0] for r in spark.read.text(path).collect()]


@dataclass
class TfIdfPipeline:
    """Lazily-built stages of the reference's DataProcessing DAG."""

    corpus: DataFrame
    stopwords: list[str] = field(default_factory=list)
    min_count: int = 3

    def __post_init__(self) -> None:
        self._coo: DataFrame | None = None
        self._tok_counts: DataFrame | None = None
        self._term_dict: DataFrame | None = None
        self._doc_dict: DataFrame | None = None
        self._filtered: DataFrame | None = None
        self._tfidf: DataFrame | None = None

    # -- stage accessors (each returns a DataFrame; all lazy) ------------

    def tokens(self) -> DataFrame:
        toks = tokenize(self.corpus, line_col="line")
        if self.stopwords:
            toks = encode.stopword_filter(toks, self.stopwords)
        return toks

    def token_counts(self) -> DataFrame:
        """(doc, token, count) — the pipeline's materialization point: the
        corpus is tokenized exactly once; the term dictionary and the COO
        matrix both derive from this (cached) aggregate."""
        if self._tok_counts is None:
            tc = self.tokens().groupBy("doc", "token").agg(F.count("*").alias("count"))
            self._tok_counts = tc.cache()
        return self._tok_counts

    def term_dict(self) -> DataFrame:
        # distinct tokens of the aggregate == distinct raw tokens, so the
        # dense ids are identical to a raw-token dictionary (golden-checked).
        # scalable=True: the range-partitioned two-level rank gives the
        # same ids as a one-task row_number but keeps assignment
        # distributed when the vocabulary itself is big data.
        if self._term_dict is None:
            self._term_dict = encode.build_term_dict(
                self.token_counts(), scalable=True
            )
        return self._term_dict

    def doc_dict(self) -> DataFrame:
        if self._doc_dict is None:
            self._doc_dict = encode.build_doc_dict(self.corpus, scalable=True)
        return self._doc_dict

    def doc_term_matrix(self) -> DataFrame:
        if self._coo is None:
            self._coo = encode.encode_counted(
                self.token_counts(), self.term_dict(), self.doc_dict()
            )
        return self._coo

    def filtered_matrix(self) -> DataFrame:
        """count>=min_count matrix — cached: top-k, TF-IDF, and the category
        stages all fan out from here, and it is a small fraction of the COO."""
        if self._filtered is None:
            self._filtered = matrix.frequency_filter(
                self.doc_term_matrix(), self.min_count
            ).cache()
        return self._filtered

    def top_terms(self, k: int = 10) -> DataFrame:
        # Golden-file check (Output1_3 vs Output1_2) shows the reference's
        # top-10 job actually consumes the count>=3 FILTERED matrix, not the
        # raw COO as SURVEY §3.1's diagram suggests.
        return matrix.top_terms(self.filtered_matrix(), k)

    def tfidf(self) -> DataFrame:
        """TF-IDF over the filtered matrix — memoized so the sparse-vector
        and category branches share one plan subtree."""
        if self._tfidf is None:
            self._tfidf = matrix.tfidf_matrix(self.filtered_matrix())
        return self._tfidf

    def sparse_vectors(self) -> DataFrame:
        return matrix.to_sparse_vectors(self.tfidf())

    def category_tfidf(self) -> DataFrame:
        return cat_ops.category_tfidf(self.tfidf(), self.doc_dict(), self.term_dict())

    def category_top_terms(self, k: int = 5) -> DataFrame:
        return cat_ops.category_top_terms(self.category_tfidf(), k)


def bbc_pipeline(spark: SparkSession, input_dir: str, stopword_path: str) -> TfIdfPipeline:
    """The reference's exact configuration: BBC corpus tree + 300 stopwords
    + count>=3 frequency filter."""
    return TfIdfPipeline(
        corpus=read_corpus(spark, input_dir),
        stopwords=load_stopwords(spark, stopword_path),
        min_count=3,
    )
