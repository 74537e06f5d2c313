"""URL canonicalization and URL-keyed curation for web-crawl corpora
(north-star extension per BASELINE.json; no reference analog — the
reference, vectorsearch.proto, has no web/document surface at all).

Why this exists: CommonCrawl-style pipelines dedup and cap documents
by URL *before* any content pass — the same page is fetched under
`HTTP://WWW.Example.COM:80/a?utm_source=x&b=2&a=1#frag` and
`http://example.com/a?a=1&b=2`, and per-host caps (RefinedWeb §3.1,
Penedo et al. 2023; FineWeb, Penedo et al. 2024 — both public) bound
any single domain's contribution to the training mix. Both need a
canonical form first.

Canonicalization rules (RFC 3986 §6 syntax-based normalization plus
the tracking-parameter strip every production crawler applies):

1. scheme and host lowercased (RFC 3986 §6.2.2.1);
2. default port stripped (`:80` for http, `:443` for https — §6.2.3);
3. fragment dropped (never sent to the server);
4. tracking parameters removed: ``utm_*``, ``fbclid``, ``gclid``,
   ``msclkid``, ``mc_eid``, ``igshid`` (the public "UTM" family);
5. remaining query parameters sorted bytewise by their full ``k=v``
   text (param order is almost always semantically irrelevant; sorting
   makes the form canonical);
6. empty path normalized to ``/`` (§6.2.3), empty query dropped;
7. optionally the ``www.`` host prefix stripped (`strip_www=True`) —
   not RFC normalization, but standard dedup policy (the same origin
   serves both in practice);
8. percent-encoding normalized in path and query (§6.2.2.2): an
   escape of an UNRESERVED character (ALPHA / DIGIT / ``-._~``) is
   decoded (``%7Euser`` → ``~user``), every other escape gets
   uppercase hex (``%2f`` → ``%2F``); a ``%`` not followed by two hex
   digits passes through literally. Host escapes are out of scope
   (vanishingly rare in crawls; the host rules above are byte-level);
9. dot-segments removed from the path (§6.2.2.3, the full RFC
   ``remove_dot_segments`` algorithm): ``/a/./b`` → ``/a/b``,
   ``/a/../b`` → ``/b``, excess ``..`` at the root ignored, a
   trailing ``/.`` or ``/..`` leaves a trailing slash. Runs AFTER
   rule 8, so ``%2E`` segments decode to ``.`` first, exactly as the
   RFC orders the normalizations.

Everything is built-in Spark string/array functions — regexp_extract
for the split, ``filter``/``array_sort``/``array_join`` HOFs for the
query rewrite — so the whole operator is one codegen'd projection:
no UDF, no shuffle, linear scan at any corpus size. The DuckDB oracle
mirrors each rule with the same regexes (workload.py URL_* SQL).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from vectorsearch_spark.fsio import epoch_dirs
from vectorsearch_spark.operators.incremental import (
    EpochBucketedState,
    commit_epoch,
    committed_epoch,
    epoch_already_applied,
    source_snapshot,
    start_fold_stream,
)

# one regex family, shared verbatim (documented) with the SQL oracle
_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_AUTHORITY_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
# the query starts at the FIRST '?' and only if it precedes any '#'
# (everything after '#' is fragment, RFC 3986 §3.5 — a '?' inside the
# fragment is NOT a query). [^#?]* cannot cross either delimiter, so
# the match anchors to the first '?' and fails when '#' comes first.
_QUERY_RE = r"^[^#?]*\?([^#]*)"
# tracking ("click-id") parameters every major pipeline strips; the
# param is matched against its full `k=v` text
TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|msclkid|mc_eid|igshid)(=.*)?$"

_HEX_DIGITS = "0123456789abcdef"


def pct_normalize(s: Column) -> Column:
    """Percent-encoding normalization (RFC 3986 §6.2.2.2) as one
    codegen expression: decode escapes of unreserved characters
    (ALPHA / DIGIT / ``-._~``), uppercase the hex of every other valid
    escape, pass invalid ``%`` sequences through literally.

    Shape: split on ``%`` (each later element begins with the escape's
    candidate hex pair), rewrite each element independently, rejoin.
    Equivalent to a single left-to-right scan because a rewrite never
    produces a new ``%`` and never re-examines consumed characters.
    """
    parts = F.split(s, "%")

    def fix(e: Column) -> Column:
        code = (
            (F.instr(F.lit(_HEX_DIGITS), F.lower(e.substr(1, 1))) - 1) * 16
            + F.instr(F.lit(_HEX_DIGITS), F.lower(e.substr(2, 1)))
            - 1
        )
        unreserved = (
            ((code >= 48) & (code <= 57))   # DIGIT
            | ((code >= 65) & (code <= 90))   # ALPHA upper
            | ((code >= 97) & (code <= 122))  # ALPHA lower
            | code.isin(45, 46, 95, 126)      # - . _ ~
        )
        valid = e.rlike("^[0-9A-Fa-f]{2}")
        rest = e.substr(F.lit(3), F.length(e))
        return (
            F.when(valid & unreserved, F.concat(F.char(code), rest))
            .when(valid, F.concat(F.lit("%"), F.upper(e.substr(1, 2)), rest))
            .otherwise(F.concat(F.lit("%"), e))
        )

    return F.concat(
        F.element_at(parts, 1),
        F.array_join(
            F.transform(F.slice(parts, 2, F.size(parts) - 1), fix), ""
        ),
    )


def remove_dot_segments(path: Column) -> Column:
    """RFC 3986 §6.2.2.3 ``remove_dot_segments`` for an absolute-URL
    path (starts with ``/`` or empty), as one codegen ``aggregate``
    fold over the ``/``-split segments — a stack: ``.`` is dropped,
    ``..`` pops the previous segment (never the leading root), anything
    else (empty segments included — ``..`` pops those too, as the RFC
    buffer algorithm does) is pushed. A trailing ``/.`` or ``/..``
    leaves the trailing slash the RFC output has. Linear per row, no
    shuffle; the DuckDB oracle twin uses an equivalent prefix-sum
    formulation over the same split (workload.py ``_dot_sql``)."""
    segs = F.split(path, "/")
    stack = F.aggregate(
        segs,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, s: F.when(s == ".", acc)
        .when((s == "..") & (F.size(acc) > 1), F.slice(acc, 1, F.size(acc) - 1))
        .when(s == "..", acc)
        .otherwise(F.concat(acc, F.array(s))),
    )
    last = F.element_at(segs, -1)
    return F.concat(
        F.array_join(stack, "/"),
        F.when(last.isin(".", ".."), F.lit("/")).otherwise(F.lit("")),
    )


# Built canonicalization expressions keyed by (column name, strip_www):
# the ~100-node tree costs ~0.3 s of py4j round-trips per build (r14
# profiling) and is a pure function of its inputs — Column objects are
# immutable expression trees, so reuse across queries is safe. Only
# string column names are cached; Column-typed inputs build fresh.
_CANON_CACHE: dict = {}


def canonicalize_url(url: Column | str, strip_www: bool = False) -> Column:
    """Canonical form of an absolute http(s)-style URL as ONE codegen
    column expression (rules 1-7 in the module docstring).

    Non-URL strings (no ``scheme://``) pass through unchanged — the
    caller filters or flags them with ``is_absolute_url``.
    """
    if isinstance(url, str):
        key = (url, bool(strip_www))
        col = _CANON_CACHE.get(key)
        if col is None:
            col = _canonicalize_url_expr(F.col(url), strip_www)
            _CANON_CACHE[key] = col
        return col
    return _canonicalize_url_expr(url, strip_www)


def _canonicalize_url_expr(u: Column, strip_www: bool) -> Column:
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    authority = F.lower(F.regexp_extract(u, _AUTHORITY_RE, 1))
    # default-port strip happens against the LOWERCASED authority
    host = (
        F.when(
            (scheme == "http") & authority.endswith(":80"),
            authority.substr(F.lit(1), F.length(authority) - 3),
        )
        .when(
            (scheme == "https") & authority.endswith(":443"),
            authority.substr(F.lit(1), F.length(authority) - 4),
        )
        .otherwise(authority)
    )
    if strip_www:
        host = F.when(
            host.startswith("www."), host.substr(F.lit(5), F.length(host))
        ).otherwise(host)
    # §6.2.2.2 then §6.2.2.3, in the RFC's order: '%2E' decodes to '.'
    # BEFORE dot-segment removal. pct escapes never decode to '/', '?',
    # '#', '&', '=' or '%' (none are unreserved), so component
    # boundaries and the param split are unaffected. The full rewrites
    # cost ~1.5-2x vs the r11 partial normalization on URL-bound plans
    # (still one codegen projection, linear at 10x); an identity
    # short-circuit variant (skip pct when no '%', skip dot removal
    # when no '.' segment) was A/B-measured SLOWER (0.63 vs 0.45 s/5M
    # rows) — the per-row guard rlike/contains costs more than the
    # branches save, so the straight form is the fast one.
    path = remove_dot_segments(pct_normalize(F.regexp_extract(u, _PATH_RE, 1)))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = pct_normalize(F.regexp_extract(u, _QUERY_RE, 1))
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    qtail = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    return F.when(
        scheme == "", u  # not an absolute URL: pass through
    ).otherwise(F.concat(scheme, F.lit("://"), host, path, qtail))


def is_absolute_url(url: Column | str) -> Column:
    """True iff the string starts with an RFC 3986 scheme + ``://``."""
    u = F.col(url) if isinstance(url, str) else url
    return F.regexp_extract(u, _SCHEME_RE, 1) != ""


def url_host(url: Column | str, strip_www: bool = False) -> Column:
    """Lowercased host (authority minus ANY port — default or not) of
    an absolute URL — the per-domain key for host caps and host-level
    stats. A bracketed IPv6 literal (``http://[::1]:8080/``) keys as
    its bracketed form ``[::1]`` (RFC 3986 §3.2.2 keeps the brackets
    in the authority; the port starts only after ``]``), so IPv6-host
    URLs group correctly instead of truncating at the first ':'."""
    u = F.col(url) if isinstance(url, str) else url
    authority = F.lower(F.regexp_extract(u, _AUTHORITY_RE, 1))
    host = F.when(
        authority.startswith("["),
        F.regexp_extract(authority, r"^(\[[^\]]*\])", 1),
    ).otherwise(F.regexp_extract(authority, r"^([^:]*)", 1))
    if strip_www:
        host = F.when(
            host.startswith("www."), host.substr(F.lit(5), F.length(host))
        ).otherwise(host)
    return host


def url_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    strip_www: bool = True,
) -> DataFrame:
    """Exact URL-level dedup: canonicalize, keep the min-id fetch of
    each canonical URL, report the duplicate count.

    ONE map-side-combinable aggregate (the workload.py:2456 min-id
    keeper shape — no self-join, no window): shuffle is one row per
    distinct canonical URL, partial aggregation absorbs the duplicate
    mass map-side. Linear at any crawl size.
    """
    canon = df.select(
        F.col(id_col), canonicalize_url(url_col, strip_www=strip_www).alias("url")
    )
    return canon.groupBy("url").agg(
        F.min(id_col).alias("keeper_" + id_col),
        F.count("*").alias("n_fetches"),
    )


def host_cap(
    df: DataFrame,
    cap: int,
    host_col: str = "host",
    id_col: str = "doc_id",
    priority_col: str | None = None,
    salt_buckets: int = 64,
) -> DataFrame:
    """Per-host document cap: keep at most ``cap`` documents per host,
    best-first (RefinedWeb/FineWeb's per-domain contribution bound).

    Order within a host: ``priority_col`` DESC when given (e.g. a
    quality score), then ``id_col`` ASC — a total order, so the kept
    set is deterministic.

    Scale shape — two-phase rank so one mega-host cannot serialise
    into a single window task (CommonCrawl hosts reach 10⁷ pages;
    a plain `row_number() over (partition by host)` puts all of them
    in one task):

    1. *pre-truncate*: rank within (host, shuffle-salt) — the salt is
       a hash-spread of the id, so a mega-host fans out across
       ``salt_buckets`` tasks (default 64; size it ≥ the executor
       count so one host saturates the cluster) — and keep rank ≤ cap
       per salt. This is
       a provable superset of the global top-cap (any row in the
       global top-cap is in its salt's top-cap).
    2. *final rank*: row_number over host on the surviving
       ≤ salt_buckets·cap rows per host — bounded per-task work no
       matter how large the host was.

    Both phases are windows over exchanged keys; everything stays in
    the JVM. Output: the input rows that survive, plus ``host_rank``.
    """
    order = (
        [F.col(priority_col).desc(), F.col(id_col).asc()]
        if priority_col
        else [F.col(id_col).asc()]
    )
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets))
    )
    w_pre = Window.partitionBy(host_col, "__salt").orderBy(*order)
    pre = (
        salted.withColumn("__pre_rank", F.row_number().over(w_pre))
        .filter(F.col("__pre_rank") <= cap)
        .drop("__pre_rank", "__salt")
    )
    w_final = Window.partitionBy(host_col).orderBy(*order)
    return pre.withColumn("host_rank", F.row_number().over(w_final)).filter(
        F.col("host_rank") <= cap
    )


def _frontier_table(state_path: str) -> str:
    """Catalog name of the bucketed frontier-state table for a state
    dir — delegates to ``EpochBucketedState.table_for`` (the single
    source of the naming scheme; r12 ADVICE flagged the independent
    re-derivation here), computable without a session
    (tests/registry cleanup)."""
    return EpochBucketedState.table_for(state_path, "urls")


def _frontier_state(spark, state_path: str, state_buckets: int):
    return EpochBucketedState(
        spark, state_path, "urls", "`_curl` STRING", "_curl", state_buckets
    )


def fold_url_dedup_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    id_col: str = "doc_id",
    url_col: str = "url",
    strip_www: bool = True,
    state_buckets: "int | None" = None,
) -> None:
    """One micro-batch fold of streaming URL-frontier dedup (the
    foreachBatch body, exposed for crash-injection tests): the shape a
    crawler/ingest frontier runs — accept a fetch only if its CANONICAL
    url has never been accepted before.

    Per batch: canonicalize, drop rows whose canonical url is already
    in the accepted state (one left-anti hash join — equality, so no
    verify stage is needed, unlike the MinHash fold), keep the min-id
    row per canonical url within the batch, append survivors. State is
    one ``urls/epoch=<id>/`` dir of distinct canonical urls per applied
    batch plus the accepted rows — O(batch) writes per fold, never a
    history rewrite.

    At scale the anti-join's state side is the full url set; it streams
    through the join distributed (never collected), and because the key
    is an equality hash the join is the cheapest shape Spark has.
    ``state_buckets=N`` (r12) enables the 100 TB layout: the url set is
    persisted as ONE external table partitioned by epoch and CLUSTERED
    BY ``_curl`` into N buckets (``{state_path}/urls_bucketed``), so
    the per-fold anti-join scans the state WITHOUT exchanging it — the
    bucketed scan already satisfies the join's distribution
    requirement, and the only shuffle left is the batch side hashing
    into the bucket count: O(batch) per fold instead of O(state).
    Size N to the cluster (a bucket is one task's state slice). Both
    layouts share the same fold semantics and crash protocol.

    Exactly-once by the fold protocol in ``operators/incremental.py``.
    """
    spark = batch_df.sparkSession
    if epoch_already_applied(state_path, epoch_id):
        return
    batch = source_snapshot(batch_df)
    canon = batch.withColumn(
        "_curl", canonicalize_url(url_col, strip_www=strip_www)
    )

    root = os.path.join(state_path, "urls")
    if state_buckets:
        # bucketed-state mode: the accepted-url set lives in ONE
        # external table partitioned by epoch and CLUSTERED BY _curl —
        # the partition filter below excludes the current (possibly
        # crashed-partial) epoch, and the bucketed scan satisfies the
        # anti-join's distribution requirement with NO exchange on the
        # state side (plan-asserted in tests/test_urls.py). Per fold
        # the only shuffle is the batch side hashing into the bucket
        # count: O(batch), not O(state) — the difference between
        # scanning the frontier and re-shuffling it at every fold.
        seen = _frontier_state(spark, state_path, state_buckets).read_before(
            epoch_id
        )
        if seen is not None:
            canon = canon.join(seen, "_curl", "left_anti")
    else:
        dirs = epoch_dirs(root, below=epoch_id)
        if dirs:
            seen = spark.read.schema("_curl string").parquet(*dirs)
            canon = canon.join(seen, "_curl", "left_anti")

    # within-batch: min-id keeper per canonical url — ONE map-side
    # combinable aggregate + a semi join back on the (url, id) pair
    keepers = canon.groupBy("_curl").agg(F.min(id_col).alias(id_col))
    accepted = canon.join(keepers, ["_curl", id_col], "left_semi").localCheckpoint(
        eager=False
    )

    ep = f"epoch={int(epoch_id)}"
    accepted.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(url_col),
        F.col("_curl").alias("canonical_url"),
    ).write.mode("overwrite").parquet(os.path.join(state_path, "accepted", ep))
    if state_buckets:
        _frontier_state(spark, state_path, state_buckets).write_epoch(
            accepted.select("_curl").distinct(), epoch_id
        )
    else:
        accepted.select("_curl").distinct().write.mode("overwrite").parquet(
            os.path.join(root, ep)
        )
    commit_epoch(state_path, epoch_id)


def stream_url_dedup(
    docs: DataFrame,
    state_path: str,
    checkpoint: str,
    compact_every: "int | None" = None,
    **kwargs,
):
    """Keep a URL-deduplicated accepted set current from a fetch stream
    (see ``fold_url_dedup_batch``). Returns the StreamingQuery; read
    the accepted rows with ``read_accepted(spark, state_path)`` — a
    raw ``spark.read.parquet(f"{state_path}/accepted")`` would also
    pick up a crashed fold's uncommitted partial epoch dir, violating
    the committed-epoch reader contract every streaming fold in this
    repo shares (operators/incremental.py ``committed_epoch``).

    ``compact_every=N`` (requires ``state_buckets``): after every Nth
    applied epoch the frontier's epoch partitions merge into one
    (``compact_url_frontier``), so a long-lived crawl keeps a bounded
    partition/file count automatically. Compaction runs AFTER the
    fold's marker commit and is set-invariant at every step, so a
    crash mid-compaction never changes what any reader or replay
    observes — the next trigger just folds on (a later compaction
    re-absorbs any leftover partitions)."""
    if compact_every and not kwargs.get("state_buckets"):
        raise ValueError(
            "compact_every requires state_buckets (compaction operates "
            "on the bucketed frontier layout)"
        )

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        fold_url_dedup_batch(batch_df, epoch_id, state_path, **kwargs)
        sb = kwargs.get("state_buckets")
        if sb and compact_every and (int(epoch_id) + 1) % int(compact_every) == 0:
            compact_url_frontier(
                batch_df.sparkSession, state_path, sb, int(epoch_id)
            )

    return start_fold_stream(docs, checkpoint, _apply)


def compact_url_frontier(
    spark, state_path: str, state_buckets: int, upto_epoch: int
) -> None:
    """Merge the bucketed frontier's epoch partitions ≤ ``upto_epoch``
    into one (``EpochBucketedState.compact_epochs``) — run between
    folds so a long-lived crawl frontier keeps a bounded partition/file
    count instead of one partition per micro-batch. Crash-safe because
    the frontier is SET state: at every step the accepted-url SET any
    reader observes is unchanged."""
    _frontier_state(spark, state_path, state_buckets).compact_epochs(upto_epoch)


def read_accepted(spark, state_path: str) -> DataFrame:
    """The accepted rows of a URL-frontier state dir, honouring the
    exactly-once crash-window contract: load ONLY epoch dirs
    ``<= committed_epoch`` — a crashed fold's partial ``accepted/``
    dir (written before its marker commit) is invisible, exactly as it
    is to the fold's own replay."""
    last = committed_epoch(state_path, "read_accepted")
    dirs = epoch_dirs(os.path.join(state_path, "accepted"), at_most=last)
    return spark.read.parquet(*dirs)


def domain_suffixes(host: Column | str) -> Column:
    """All dot-suffix domains of a host, most-specific first:
    ``a.b.example.com`` → [a.b.example.com, b.example.com, example.com,
    com]. Bounded by the label count (hosts have ≤ ~10 labels), so the
    explode this feeds is O(labels), not data-dependent."""
    h = F.col(host) if isinstance(host, str) else host
    labels = F.split(h, r"\.")
    n = F.size(labels)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(labels, i, n), "."),
    )


def blocklist_filter(
    df: DataFrame,
    blocklist: DataFrame,
    host_col: str = "host",
    id_col: str = "doc_id",
    domain_col: str = "domain",
) -> DataFrame:
    """Drop rows whose host IS a blocklisted domain or is a SUBDOMAIN
    of one (the standard adult/malware/spam domain-list gate every
    crawl pipeline runs; suffix semantics because lists name registered
    domains while crawls carry full hostnames).

    Plan: explode each host into its ≤ labels dot-suffixes (bounded
    fan-out, no data-dependent blowup), BROADCAST-anti-join the
    (id, suffix) pairs against the blocklist, and anti-join the hit ids
    back onto the input. Blocklists are ~10⁵-10⁶ rows — far under the
    broadcast threshold — so the suffix probe never shuffles the
    corpus; the id anti-join keys on ``id_col`` alone, so the operator
    is agnostic to the row's other column types. One scan-rate pass at
    any corpus size.

    Rows with a NULL host are KEPT (no evidence to block on — the
    caller gates unparseable URLs separately via ``is_absolute_url``).
    """
    hit_ids = (
        df.select(
            F.col(id_col), F.explode(domain_suffixes(F.col(host_col))).alias("__sfx")
        )
        .join(
            F.broadcast(
                blocklist.select(F.col(domain_col).alias("__sfx")).dropDuplicates()
            ),
            "__sfx",
            "left_semi",
        )
        .select(id_col)
        .dropDuplicates()
    )
    return df.join(hit_ids, id_col, "left_anti")
