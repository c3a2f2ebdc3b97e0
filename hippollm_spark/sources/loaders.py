"""Document sources (reference S3-S6: loaders.py,
experiments/bootstrap_wikipedia.py).

- ``load_text``            — whole-file text documents (S4).
- ``load_wikipedia``       — driver-side single-page fetch (S3);
                             network-gated, injectable fetcher.
- ``parse_pageviews``      — the wikimedia pageviews dump scan+aggregate
                             (S5, bootstrap_wikipedia.py:32-46): the
                             reference's only big-data workload, here a
                             pure DataFrame scan→filter→split→groupBy.
- ``enrich_descriptions``  — partition-batched API enrichment (S6,
                             bootstrap_wikipedia.py:49-85): batches of
                             50 titles per request inside mapInPandas;
                             the HTTP call is injectable (no network in
                             tests; executors make real calls in prod).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hippollm_spark import plan


def load_text(spark: SparkSession, location: str, doc_id: int = 0) -> DataFrame:
    """S4 — one document per file (reference loaders.py:14-18)."""
    df = spark.read.text(location, wholetext=True)
    return df.select(
        F.lit(doc_id).alias("doc_id"),
        F.lit(location.rsplit("/", 1)[-1]).alias("title"),
        F.lit(location).alias("url"),
        F.col("value").alias("content"),
        F.lit(None).cast("timestamp").alias("date"),
    )


WIKIPEDIA_API = "https://en.wikipedia.org/w/api.php"


def wikipedia_page_fetcher(
    api_url: str = WIKIPEDIA_API,
    *,
    timeout: float = 30.0,
) -> Callable[[str], tuple[str, str, str]]:
    """Real S3 fetcher over the MediaWiki action API (the reference
    delegates to langchain's WikipediaLoader — loaders.py:6-11 — which
    performs the same search-then-extract pair): ``list=search`` for
    the first matching title, then ``prop=extracts&explaintext`` for
    the plain-text content. Point ``api_url`` at a stub server in
    tests; the default needs network."""

    def fetcher(query: str) -> tuple[str, str, str]:
        import requests

        sr = requests.get(
            api_url,
            params={
                "action": "query",
                "format": "json",
                "list": "search",
                "srsearch": query,
                "srlimit": 1,
            },
            timeout=timeout,
        )
        sr.raise_for_status()
        hits = sr.json().get("query", {}).get("search", [])
        if not hits:
            raise LookupError(f"no Wikipedia match for {query!r}")
        title = hits[0]["title"]
        pr = requests.get(
            api_url,
            params={
                "action": "query",
                "format": "json",
                "prop": "extracts",
                "explaintext": 1,
                "titles": title,
            },
            timeout=timeout,
        )
        pr.raise_for_status()
        pages = pr.json().get("query", {}).get("pages", {})
        page = next(iter(pages.values()), {})
        url = (
            api_url.rsplit("/w/", 1)[0]
            + "/wiki/"
            + title.replace(" ", "_")
        )
        return title, url, page.get("extract", "")

    return fetcher


def wikipedia_description_fetcher(
    api_url: str = WIKIPEDIA_API,
    *,
    timeout: float = 30.0,
    pause: float = 0.0,
) -> Callable[[Sequence[str]], dict[str, str]]:
    """Real S6 batch fetcher: ``action=query&prop=description`` with
    '|'-joined titles — the exact request the reference's async
    bootstrap issues (bootstrap_wikipedia.py:49-85), minus the asyncio
    machinery (executor-partition parallelism replaces it; ``pause``
    reproduces its politeness sleep against rate limiting). Non-200
    responses yield {} like the reference. Cloudpickles into
    `enrich_descriptions`'s mapInPandas stage."""

    def fetch_batch(titles: Sequence[str]) -> dict[str, str]:
        import time as _time

        import requests

        if pause:
            _time.sleep(pause)
        resp = requests.get(
            api_url,
            params={
                "action": "query",
                "format": "json",
                "titles": "|".join(titles),
                "prop": "description",
            },
            timeout=timeout,
        )
        if resp.status_code != 200:
            return {}
        pages = resp.json().get("query", {}).get("pages", {})
        return {
            v["title"]: v["description"]
            for v in pages.values()
            if "missing" not in v and "description" in v
        }

    return fetch_batch


def load_wikipedia(
    spark: SparkSession,
    query: str,
    fetcher: Callable[[str], tuple[str, str, str]] | None = None,
    max_chars: int = 1_000_000,
) -> DataFrame:
    """S3 — first matching Wikipedia page as a one-row docs DataFrame
    (reference loaders.py:6-11 caps content at 1M chars).

    ``fetcher(query) -> (title, url, content)`` defaults to the real
    `wikipedia_page_fetcher` (network); tests inject a fake or point
    the fetcher's ``api_url`` at a stub server."""
    if fetcher is None:
        fetcher = wikipedia_page_fetcher()
    title, url, content = fetcher(query)
    return spark.createDataFrame(
        [(0, title, url, (content or "")[:max_chars], None)],
        "doc_id long, title string, url string, content string, date timestamp",
    )


def parse_pageviews(
    spark: SparkSession, path: str, lang_prefix: str = "en "
) -> DataFrame:
    """S5 — pageview dump lines ``"<lang> <title> <count> <bytes?>"`` →
    per-title view sums for one language (reference
    bootstrap_wikipedia.py:32-46).

    Scan → prefix filter (pushed to the text scan) → split → groupBy
    sum. At the reference's real scale (~720 hourly dumps, 1.5M titles)
    this is one shuffle on title — the reference needed a thread pool
    and six hours; this is exactly the shape Spark eats for breakfast.
    Output: (title STRING, views BIGINT).
    """
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), " ")
    return (
        lines.filter(F.col("value").startswith(lang_prefix))
        .select(
            parts.getItem(1).alias("title"),
            # try_cast: malformed counts → NULL → filtered (ANSI-safe)
            parts.getItem(2).try_cast("long").alias("views"),
        )
        .filter(F.col("views").isNotNull())
        .groupBy("title")
        .agg(F.sum("views").alias("views"))
    )


def enrich_descriptions(
    titles: DataFrame,
    fetch_batch: Callable[[Sequence[str]], dict[str, str]],
    batch_size: int = 50,
    *,
    title_col: str = "title",
) -> DataFrame:
    """S6 — batched description lookup (reference
    bootstrap_wikipedia.py:49-85 batches 50 titles per API request with
    an async semaphore; here each executor partition batches its own
    rows — partition parallelism replaces the asyncio machinery).

    ``fetch_batch(titles) -> {title: description}`` is the injectable
    API call. Output: titles + (description STRING).
    """

    def _run(batches):
        for pdf in batches:
            out_desc = []
            vals = pdf[title_col].tolist()
            for i in range(0, len(vals), batch_size):
                chunk = vals[i : i + batch_size]
                got = fetch_batch(chunk)
                out_desc.extend(got.get(t) for t in chunk)
            res = pdf.copy()
            res["description"] = out_desc
            yield res

    import pyspark.sql.types as T

    schema = T.StructType(
        titles.schema.fields + [T.StructField("description", T.StringType())]
    )
    return titles.mapInPandas(_run, schema)


def bootstrap_entities(
    store,
    pageviews: DataFrame,
    fetch_batch: Callable[[Sequence[str]], dict[str, str]],
    min_views: int = 100,
) -> None:
    """C6 — the reference's entity bootstrap (bootstrap_wikipedia.py:
    118-192): aggregate pageviews → threshold → enrich descriptions →
    bulk add_entities (embedding stage inside the store's write path)."""
    kept = pageviews.filter(F.col("views") >= min_views)
    enriched = enrich_descriptions(kept.select(F.col("title").alias("name")), fetch_batch, title_col="name")
    store.add_entities(
        enriched.select("name", F.coalesce("description", F.lit("")).alias("description"))
    )


def read_docs_jsonl(
    spark,
    path: str,
    *,
    schema: str = "doc_id long, title string, url string, content string",
    quarantine: bool = True,
):
    """Robust JSONL document ingestion — the crawl-dump reader a
    training-data pipeline starts from: explicit schema (NEVER
    inference at 100 TB — schema inference is a full extra pass over
    the data and silently widens types per run), PERMISSIVE mode with
    the malformed line captured in ``_corrupt_record``.

    Returns (good, bad): ``good`` has the declared columns for rows
    that parsed; ``bad`` carries the raw malformed lines for a
    quarantine sink (count it, alert on it, never drop it silently —
    at crawl scale a parser regression looks exactly like a corpus
    shrink). With ``quarantine=False``, bad rows are dropped and only
    ``good`` is returned.

    Scale note: one scan feeds both outputs; the corrupt-record
    column must be part of the read schema per Spark's contract, and
    Spark requires caching the parsed frame before filtering on it
    (documented SPARK-26108) — at scale write the quarantine out in
    the same job instead of caching.
    """
    full_schema = schema + ", _corrupt_record string"
    parsed = plan.barrier(
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    good = parsed.filter(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record"
    )
    if not quarantine:
        return good
    bad = parsed.filter(F.col("_corrupt_record").isNotNull()).select(
        "_corrupt_record"
    )
    return good, bad


def read_docs_csv(
    spark,
    path: str,
    *,
    schema: str = "doc_id long, title string, url string, content string",
    header: bool = True,
    sep: str = ",",
    quarantine: bool = True,
):
    """CSV twin of `read_docs_jsonl`: explicit schema (no inference
    pass), PERMISSIVE parse, malformed lines captured for a quarantine
    sink instead of silently dropped — plus `multiLine` off by default
    so the file splits by newline and stays parallel (multiline CSV
    forces one task per file; if content embeds newlines, prefer
    JSONL).

    Returns (good, bad) like the JSONL reader; ``bad`` carries the raw
    malformed line.
    """
    full_schema = schema + ", _corrupt_record string"
    parsed = plan.barrier(
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("header", str(header).lower())
        .option("sep", sep)
        .csv(path)
    )
    good = parsed.filter(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record"
    )
    if not quarantine:
        return good
    bad = parsed.filter(F.col("_corrupt_record").isNotNull()).select(
        "_corrupt_record"
    )
    return good, bad
