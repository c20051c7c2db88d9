"""URL/domain curation operators — the web-corpus half of corpus
assembly: URL normalization, registrable-domain extraction, URL-keyed
dedup and the per-domain mix dashboard (the "is one domain drowning
the corpus?" monitoring view).

Every transformation here is a Catalyst expression built from
regexp_extract / regexp_replace / higher-order array functions — no
Python in the hot path, and deliberately NOT `parse_url`: the Java
URL parser has no DuckDB twin, while these anchored regexes evaluate
identically in Spark (Java regex) and DuckDB (RE2), which is what
makes the registry oracles value-exact.

Normalization rules (the C4/CCNet-style canon):
- scheme and host lowercased
- userinfo stripped, default ports stripped (http:80, https:443)
- fragment dropped
- tracking params dropped (utm_*, gclid, fbclid), other params kept
  in original order
- empty path canonicalized to "/"
- anything without a ``scheme://host`` shape → NULL (invalid)

Scale notes (100 TB): normalization and domain extraction are
map-side, codegen-friendly, shuffle-free.  ``url_dedup_keepers`` is
ONE ``row_number`` window over ONE shuffle on the normalized URL
(``WindowGroupLimit`` pushes the rank-1 filter map-side);
``domain_mix_stats`` is ONE groupBy on the registrable domain,
partial-aggregated map-side first.
Domain skew is real on web corpora (a crawler's top domain can be
1000× the median); the dashboard exists precisely to catch that, and
its aggregate is a two-level combine that never materializes a
per-domain row list.
"""

from __future__ import annotations

import os as _os
import re as _re
from functools import lru_cache as _lru_cache

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# one scheme grammar, reused by every extraction below
_SCHEME_RE = "^[A-Za-z][A-Za-z0-9+.-]*://"
#: tracking query parameters stripped by normalization
TRACKING_PARAM_RE = "^(utm_[^=]*|gclid|fbclid)(=.*)?$"
#: public-suffix snapshot shipped with the package (publicsuffix.org
#: format: normal rules, ``*.`` one-label wildcards, ``!`` exceptions,
#: ``//`` comments).  Swap in the complete publicsuffix.org file to go
#: from the curated snapshot to full coverage — the loader and both
#: twins below are general over the format.
PSL_PATH = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
    "data", "public_suffix_snapshot.dat",
)

#: IPv4-literal host shape — such hosts have no registrable domain and
#: pass through whole (same pattern evaluates identically in Java
#: regex and RE2, so the DuckDB twin replays it verbatim)
IPV4_RE = "^[0-9]{1,3}(\\.[0-9]{1,3}){3}$"


@_lru_cache(maxsize=4)
def _load_psl(path: str = PSL_PATH) -> tuple:
    """Parse a publicsuffix.org-format file into per-label-count rule
    groups: ``(normal, wild, exc, kmax)`` where ``normal[k]`` /
    ``exc[k]`` are sorted tuples of k-label rules, ``wild[k]`` are
    sorted tuples of the k-label BASES of ``*.base`` wildcard rules
    (which therefore match k+1-label suffixes), and ``kmax`` is the
    longest possible rule match.  Cached: the parsed grid is baked
    into plan literals (an ``isin`` per label count), so the data file
    ships with the PLAN to every executor — no join, no shuffle, no
    side channel."""
    normal: dict[int, set] = {}
    wild: dict[int, set] = {}
    exc: dict[int, set] = {}
    with open(path, encoding="utf-8") as fh:
        for raw in fh:
            line = raw.strip()
            if not line or line.startswith("//"):
                continue
            if line.startswith("!"):
                rule = line[1:]
                exc.setdefault(rule.count(".") + 1, set()).add(rule)
            elif line.startswith("*."):
                base = line[2:]
                wild.setdefault(base.count(".") + 1, set()).add(base)
            else:
                normal.setdefault(line.count(".") + 1, set()).add(line)
    kmax = max(
        [k for k in normal] + [k for k in exc] + [k + 1 for k in wild],
        default=1,
    )
    freeze = lambda d: {k: tuple(sorted(v)) for k, v in d.items()}
    return freeze(normal), freeze(wild), freeze(exc), kmax


def url_is_valid(url: Column) -> Column:
    """scheme://non-empty-host shape check — the gate for every other
    extraction (invalid rows carry NULL through, never garbage)."""
    return url.rlike(_SCHEME_RE + "[^/?#]")


def url_scheme(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))


def _hostport(url: Column) -> Column:
    auth = F.regexp_extract(url, _SCHEME_RE + "([^/?#]*)", 1)
    return F.regexp_replace(auth, "^[^@]*@", "")  # strip userinfo


def url_host(url: Column) -> Column:
    return F.lower(F.regexp_replace(_hostport(url), ":[0-9]+$", ""))


def url_port(url: Column) -> Column:
    """Port as a string, '' when absent."""
    return F.regexp_extract(_hostport(url), ":([0-9]+)$", 1)


def url_path(url: Column) -> Column:
    return F.regexp_extract(url, _SCHEME_RE + "[^/?#]*([^?#]*)", 1)


def url_query(url: Column) -> Column:
    """Query string without the '?', '' when absent.  The fragment is
    cut FIRST so a '?' inside a fragment is never mistaken for one."""
    return F.regexp_extract(
        F.regexp_replace(url, "#.*$", ""), "\\?(.*)$", 1
    )


def normalize_url(url: Column) -> Column:
    """Canonical URL string (NULL for invalid input) under the module
    docstring's rules."""
    scheme = url_scheme(url)
    host = url_host(url)
    port = url_port(url)
    path = url_path(url)
    keep_port = (
        (port != "")
        & ~((scheme == F.lit("http")) & (port == F.lit("80")))
        & ~((scheme == F.lit("https")) & (port == F.lit("443")))
    )
    port_part = F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(
        F.lit("")
    )
    params = F.filter(
        F.split(url_query(url), "&"),
        lambda t: (t != "") & ~t.rlike(TRACKING_PARAM_RE),
    )
    qn = F.array_join(params, "&")
    q_part = F.when(qn != "", F.concat(F.lit("?"), qn)).otherwise(F.lit(""))
    path_n = F.when(path == "", F.lit("/")).otherwise(path)
    return F.when(
        url_is_valid(url),
        F.concat(scheme, F.lit("://"), host, port_part, path_n, q_part),
    )


def _psl_suffix_len(labels: Column, n: Column) -> Column:
    """Public-suffix length in labels for an already-lowercased host,
    per the publicsuffix.org algorithm: a matching exception rule
    prevails over everything (its suffix is the rule minus its
    leftmost label); otherwise the longest matching rule wins; the
    implicit ``*`` rule makes every unlisted TLD a 1-label suffix.

    Pure Catalyst: one ``isin`` (compiled to an InSet hash probe) per
    rule-length group, guarded by ``n >= k`` — Spark's ``And``
    short-circuits left-to-right, so the suffix slice is never
    evaluated on a host with fewer labels (same contract the original
    heuristic relied on)."""
    normal, wild, exc, kmax = _load_psl()

    def sfx(k: int) -> Column:
        # start clamped to 1: the n >= k guard already gates every use,
        # but ANSI mode makes slice(start=0) a runtime error, so the
        # expression must stay total even if a rewrite rule ever
        # evaluates the right conjunct eagerly
        start = F.greatest(n - F.lit(k - 1), F.lit(1))
        return F.array_join(F.slice(labels, start, F.lit(k)), ".")

    branches: list[tuple[Column, int]] = []
    for k in sorted(exc, reverse=True):
        branches.append(((n >= k) & sfx(k).isin(*exc[k]), k - 1))
    for k in range(kmax, 0, -1):
        if k in normal:
            branches.append(((n >= k) & sfx(k).isin(*normal[k]), k))
        if k >= 2 and (k - 1) in wild:
            branches.append(((n >= k) & sfx(k - 1).isin(*wild[k - 1]), k))
    out = F.lit(1)
    for cond, val in reversed(branches):
        out = F.when(cond, F.lit(val)).otherwise(out)
    return out


def registrable_domain(host: Column) -> Column:
    """eTLD+1 of an already-lowercased host under the shipped
    public-suffix snapshot (``PSL_PATH``): the public suffix plus one
    label.  IP-literal hosts (dotted IPv4, bracketed IPv6) have no
    registrable domain and pass through WHOLE — ``1.2.3.4`` is
    ``1.2.3.4``, never ``3.4``.  A single trailing dot is ignored, per
    the PSL algorithm.  A host that IS a public suffix (including a
    bare TLD) also passes through whole rather than going NULL — a
    deliberate deviation from the PSL's "no registrable domain" answer
    so group keys stay non-null and dropped mass stays visible in the
    mix dashboards.  NULL host → NULL.

    The DuckDB oracle twin is generated from the SAME parsed rule file
    by ``registrable_domain_sql`` — the two can only diverge if the
    algorithm itself diverges, not the data."""
    host_c = F.regexp_replace(host, "\\.$", "")
    labels = F.split(host_c, "\\.")
    n = F.size(labels)
    ps_len = _psl_suffix_len(labels, n)
    # the clamped start makes the host-IS-a-public-suffix case free:
    # when n <= ps_len the slice degenerates to all labels and the
    # join rebuilds host_c, so no separate branch re-inlines the rule
    # chain (which matters: ps_len embeds the full rule table, and a
    # second occurrence pushed the codegen'd method past Janino's
    # 64 KB limit, dropping whole stages to interpreted eval)
    reg = F.array_join(
        F.slice(labels, F.greatest(n - ps_len, F.lit(1)), ps_len + F.lit(1)),
        ".",
    )
    return (
        # explicit NULL gate first: downstream builders (concat_ws /
        # array_join) never yield NULL, so a null host must short-circuit
        F.when(host.isNull(), F.lit(None).cast("string"))
        .when(host_c.startswith("["), host_c)
        .when(host_c.rlike(IPV4_RE), host_c)
        .otherwise(reg)
    )


def _sql_in(expr: str, values: tuple) -> str:
    return "%s IN (%s)" % (expr, ", ".join("'%s'" % v for v in values))


def psl_suffix_len_sql(l: str = "l") -> str:
    """DuckDB twin of ``_psl_suffix_len`` as a SQL CASE expression over
    a label list ``l`` (``string_split`` of the trailing-dot-stripped,
    lowercased host), generated from the SAME ``_load_psl()`` rule grid
    the Catalyst expression bakes into its plan.  Compute it ONCE in a
    CTE (it inlines the full rule table) and feed the resulting column
    to ``registrable_domain_sql``."""
    normal, wild, exc, kmax = _load_psl()
    nl = "len(%s)" % l

    def sfx(k: int) -> str:
        # DuckDB list slices clamp out of range, but guard with the
        # label count anyway for strict parity with the Spark twin
        return "array_to_string(%s[%s - %d:%s], '.')" % (l, nl, k - 1, nl)

    branches: list[str] = []
    for k in sorted(exc, reverse=True):
        branches.append(
            "WHEN %s >= %d AND %s THEN %d"
            % (nl, k, _sql_in(sfx(k), exc[k]), k - 1)
        )
    for k in range(kmax, 0, -1):
        if k in normal:
            branches.append(
                "WHEN %s >= %d AND %s THEN %d"
                % (nl, k, _sql_in(sfx(k), normal[k]), k)
            )
        if k >= 2 and (k - 1) in wild:
            branches.append(
                "WHEN %s >= %d AND %s THEN %d"
                % (nl, k, _sql_in(sfx(k - 1), wild[k - 1]), k)
            )
    return "(CASE %s ELSE 1 END)" % "\n            ".join(branches)


def registrable_domain_sql(
    host: str = "host", l: str = "l", ps: str = "ps_len"
) -> str:
    """DuckDB twin of ``registrable_domain``: the final CASE over a
    lowercased ``host``, its label list ``l`` (trailing dot already
    stripped before the split), and a ``ps`` column holding
    ``psl_suffix_len_sql``'s result.  Split in two so the rule-table
    CASE is evaluated once per row, mirroring the Spark plan."""
    nl = "len(%s)" % l
    hc = "array_to_string(%s, '.')" % l  # host with trailing dot stripped
    # clamped start, mirroring the Spark twin: n <= ps_len degenerates
    # to joining all labels, i.e. the host itself
    reg = "array_to_string(%s[greatest(%s - %s, 1):%s], '.')" % (
        l, nl, ps, nl,
    )
    return (
        "CASE WHEN {host} IS NULL THEN NULL"
        " WHEN {hc} LIKE '[%' THEN {hc}"
        " WHEN regexp_matches({hc}, '{ipv4}') THEN {hc}"
        " ELSE {reg} END"
    ).format(host=host, hc=hc, ipv4=IPV4_RE, reg=reg)


def normalize_urls(
    df: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Adds ``url_norm``, ``scheme``, ``host``, ``domain`` (registrable)
    to every row — NULLs for invalid URLs.  Pure map-side projection."""
    u = F.col(url_col)
    valid = url_is_valid(u)
    host = F.when(valid, url_host(u))
    return df.select(
        "*",
        normalize_url(u).alias("url_norm"),
        F.when(valid, url_scheme(u)).alias("scheme"),
        host.alias("host"),
        registrable_domain(host).alias("domain"),
    )


def _id_hash(id_col: str) -> Column:
    """Deterministic per-id md5 hex — the reproducible-shuffle key
    shared by ``url_dedup_keepers`` and ``cap_per_domain``.  ONE
    definition: the registry oracles replay
    ``md5(CAST(id AS VARCHAR))`` verbatim, so a change here without
    the oracles is a silent divergence."""
    return F.md5(F.col(id_col).cast("string").cast("binary"))


def url_dedup_keepers(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """One keeper per NORMALIZED URL (min id — deterministic), the
    URL-keyed sibling of the content-fingerprint dedup: re-crawls and
    tracking-param variants of the same page collapse to one document.
    Invalid-URL rows have no key and are all kept.

    ONE window pass over ONE shuffle — not a keeper-aggregate +
    semi-join, which evaluates the input lineage twice more (fatal
    when upstream is a WARC decode).  Invalid rows get a PER-ROW
    surrogate partition key (a monotonic row id materialized in a
    projection — never the doc id, which unions of crawl segments can
    duplicate or NULL) so each invalid row is its own rank-1
    partition and ALL survive, without a NULL-key group concentrating
    into one partition.  The surrogate is nondeterministic but only
    keys rows whose rank is always 1, so the OUTPUT is deterministic:
    valid groups key on the normalized URL and keep min id, with NULL
    ids sorting last (a NULL id never beats a real one).
    ``WindowGroupLimit`` pushes the rank-1 filter map-side."""
    norm = normalize_url(F.col(url_col))
    with_key = df.withColumn(
        "_pk",
        F.coalesce(
            norm,
            F.concat(
                F.lit("\x00"),
                F.monotonically_increasing_id().cast("string"),
            ),
        ),
    )
    w = Window.partitionBy("_pk").orderBy(
        F.col(id_col).asc_nulls_last()
    )
    return (
        with_key.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_pk")
    )


def domain_mix_stats(
    df: DataFrame,
    url_col: str = "url",
    tokens_col: str | None = None,
    fingerprint_col: str | None = None,
) -> DataFrame:
    """Per-registrable-domain corpus mix dashboard: document count,
    corpus share, optional token mass and share, optional duplicate
    rate (1 − distinct fingerprints / docs — re-crawl pressure per
    domain).  Invalid URLs roll up under domain NULL so dropped mass
    stays visible rather than vanishing.

    ONE aggregation over map-side-derived keys + a broadcast of the
    1-row totals — bounded output (= |domains|), no driver collect.

    The derived key is computed under a private ``_domain`` alias and
    only renamed to ``domain`` in the output, so an input that already
    carries a ``domain`` column cannot make the groupBy ambiguous;
    only the columns the aggregates need are projected (column-pruned
    scan)."""
    u = F.col(url_col)
    host = F.when(url_is_valid(u), url_host(u))
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    needed = []
    if tokens_col is not None:
        aggs.append(
            F.sum(F.col(tokens_col)).cast("long").alias("n_tokens")
        )
        needed.append(tokens_col)
    if fingerprint_col is not None:
        aggs.append(
            F.countDistinct(F.col(fingerprint_col)).alias("n_distinct_fp")
        )
        needed.append(fingerprint_col)
    per = (
        df.select(registrable_domain(host).alias("_domain"), *needed)
        .groupBy("_domain")
        .agg(*aggs)
        .withColumnRenamed("_domain", "domain")
    )
    totals = per.agg(
        F.sum("n_docs").alias("_t_docs"),
        *(
            [F.sum("n_tokens").alias("_t_toks")]
            if tokens_col is not None
            else []
        ),
    )
    out = per.crossJoin(F.broadcast(totals)).withColumn(
        "doc_share",
        F.col("n_docs").cast("double") / F.col("_t_docs").cast("double"),
    )
    if tokens_col is not None:
        out = out.withColumn(
            "token_share",
            F.col("n_tokens").cast("double") / F.col("_t_toks").cast("double"),
        ).drop("_t_toks")
    if fingerprint_col is not None:
        out = out.withColumn(
            "dup_rate",
            F.lit(1.0)
            - F.col("n_distinct_fp").cast("double")
            / F.col("n_docs").cast("double"),
        )
    return out.drop("_t_docs")


# --------------------------------------------------------------------------
# WET extraction: HTTP response split + HTML → text
# --------------------------------------------------------------------------
#
# The step between a WARC response record (sources/warc.py) and a
# document corpus: split the HTTP head from the body, keep HTML
# payloads, strip markup to text — what Common Crawl ships as "WET"
# files.  Real extractors (trafilatura/jusText) do DOM-aware main-
# content detection; this is the regex tier every pipeline runs FIRST
# (and at 100 TB, often the only tier the bulk of the crawl gets):
# pure Catalyst regexp/replace expressions, codegen-friendly,
# shuffle-free, and — because the patterns stay in the RE2 ∩ Java
# regex intersection — value-replayable by the DuckDB oracles.

_CRLF2 = "\r\n\r\n"


def _head_end(payload: Column) -> Column:
    """1-based position of the first blank line — ``\\r\\n\\r\\n`` or
    bare ``\\n\\n`` (real servers emit LF-only responses and crawl
    payloads are raw server bytes), whichever comes first; 0 when the
    payload has no head/body split.  One definition shared by
    ``http_header`` and ``http_body`` so head and body can never
    overlap or disagree."""
    pcr = F.locate(_CRLF2, payload)
    plf = F.locate("\n\n", payload)
    return (
        F.when((pcr > 0) & ((plf == 0) | (pcr <= plf)), pcr)
        .when(plf > 0, plf)
        .otherwise(F.lit(0))
    )


def _sep_len(payload: Column) -> Column:
    pcr = F.locate(_CRLF2, payload)
    plf = F.locate("\n\n", payload)
    return F.when(
        (pcr > 0) & ((plf == 0) | (pcr <= plf)), F.lit(4)
    ).otherwise(F.lit(2))


def http_status(payload: Column) -> Column:
    """Status code from an HTTP/1.x response string; NULL if the
    payload does not start with a status line.  The trailing
    ``([^0-9]|$)`` anchors the 3-digit code without lookahead (RE2 has
    none), so ``HTTP/1.1 2000`` is malformed, not status 200."""
    s = F.regexp_extract(
        payload, r"^HTTP/[0-9.]+ ([0-9]{3})([^0-9]|$)", 1
    )
    return F.when(s != "", s.cast("int"))


def http_header(payload: Column, name: str) -> Column:
    """First value of header ``name`` (case-insensitive) from the head
    block (strictly BEFORE the blank line — a payload with no head/body
    split has no headers); NULL if absent.  ``name`` must be an HTTP
    token of ``[A-Za-z0-9-]`` — anything else would be interpolated
    into the regex and is rejected up front."""
    if not _re.fullmatch(r"[A-Za-z0-9-]+", name):
        raise ValueError(f"not a plain HTTP header token: {name!r}")
    pos = _head_end(payload)
    head = F.substring(payload, 1, pos - 1)
    v = F.regexp_extract(
        head, r"(?im)^" + name + r":[ \t]*([^\r\n]*)", 1
    )
    return F.when((pos > 0) & (v != ""), F.rtrim(v))


def http_body(payload: Column) -> Column:
    """Everything after the first blank line (CRLF or LF form); NULL
    when the payload has no head/body separator (not an HTTP
    response)."""
    pos = _head_end(payload)
    return F.when(
        pos > 0, F.substring(payload, pos + _sep_len(payload), 2**30)
    )


def strip_html(html: Column) -> Column:
    """HTML → whitespace-normalized text: drop script/style blocks and
    comments, strip tags, decode the six ubiquitous entities
    (``&amp;`` last, so double-escaped text stays escaped — the
    standard single-pass decode), collapse whitespace, trim.  Chained
    ``regexp_replace``/``replace`` — one codegen projection, no UDF."""
    t = F.regexp_replace(html, r"(?is)<script[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, r"<[^>]*>", " ")
    for ent, ch in (
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"),
    ):
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def wet_extract(
    df: DataFrame,
    payload_col: str = "payload_text",
    id_col: str = "doc_id",
) -> DataFrame:
    """WET extraction over a STRING column of HTTP response payloads:
    ``(id_col, status, content_type, text)``.  ``text`` is the
    stripped HTML body for 2xx ``text/html`` responses and NULL
    otherwise (non-HTML, non-2xx, or not an HTTP response at all) —
    the row is kept so the caller can count what was dropped and why.
    One map-side projection; compose with ``sources/warc.read_warc``
    (decode the binary payload first) for the full WARC→corpus path."""
    p = F.col(payload_col)
    status = http_status(p)
    ctype = http_header(p, "content-type")
    is_html = (
        (status >= 200) & (status < 300)
        & F.lower(F.coalesce(ctype, F.lit(""))).startswith("text/html")
    )
    return df.select(
        F.col(id_col),
        status.alias("status"),
        ctype.alias("content_type"),
        F.when(is_html, strip_html(http_body(p))).alias("text"),
    )


def cap_per_domain(
    df: DataFrame,
    url_col: str = "url",
    k: int = 100,
    id_col: str = "doc_id",
    order_col: str | None = None,
    sub_buckets: int = 64,
) -> DataFrame:
    """Per-domain contribution cap — the Gopher/FineWeb de-bias move:
    keep at most ``k`` documents per registrable domain so no single
    site dominates the mixture.  Kept rows carry ``domain`` and
    ``domain_rank`` (1..k).  Invalid URLs group under domain NULL and
    are capped like any other group.

    Selection order is TOTAL and deterministic: ``order_col``
    DESCENDING first if given (keep the best-scoring k), then
    ``md5(id)`` (an unbiased reproducible shuffle), then ``id``.

    Scale: a naive per-domain window makes a mega-domain (a crawler's
    top site can be 1000× the median) one hot single-task partition
    over ALL its rows.  This runs the standard two-phase top-k
    instead: phase 1 caps k within (domain, md5-sub-bucket) — the
    window partitions are ~1/``sub_buckets`` of the domain — and
    phase 2 re-ranks the ≤ ``sub_buckets``·k survivors per domain.  A
    row in the true top-k is top-k within its sub-bucket, so the
    result is EXACTLY the naive window's (the registry oracle replays
    the naive form)."""
    if int(k) < 1:
        raise ValueError("k must be >= 1")
    if int(sub_buckets) < 1:
        raise ValueError(
            "sub_buckets must be >= 1 (0 would recreate the hot "
            "single-partition plan this function exists to avoid)"
        )
    u = F.col(url_col)
    host = F.when(url_is_valid(u), url_host(u))
    idc = F.col(id_col)
    hash_key = _id_hash(id_col)
    order = (
        ([F.col(order_col).desc()] if order_col is not None else [])
        + [hash_key.asc(), idc.asc()]
    )
    base = df.withColumn("domain", registrable_domain(host)).withColumn(
        "_sub",
        F.pmod(
            F.conv(F.substring(hash_key, 1, 4), 16, 10).cast("long"),
            F.lit(int(sub_buckets)),
        ),
    )
    w1 = Window.partitionBy("domain", "_sub").orderBy(*order)
    phase1 = (
        base.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= int(k))
        .drop("_r1")
    )
    w2 = Window.partitionBy("domain").orderBy(*order)
    return (
        phase1.withColumn("domain_rank", F.row_number().over(w2))
        .filter(F.col("domain_rank") <= int(k))
        .drop("_sub")
    )


# --------------------------------------------------------------------------
# jusText-style main-content extraction (the tier after wet_extract)
# --------------------------------------------------------------------------
#
# ``wet_extract`` strips ALL markup — nav bars, footers and cookie
# banners land in the corpus alongside the article.  This tier keeps
# the block structure instead: segment the HTML into paragraphs at
# block-level tags, score each paragraph by link density and stopword
# density (the two features that separate boilerplate from prose —
# Pomikálek 2011, "Removing boilerplate and duplicate content from
# web corpora", the jusText algorithm), then run the context pass
# that rescues short headings sandwiched between good paragraphs.
#
# Deliberate simplifications vs the published algorithm (documented
# so the deviation is a decision, not an accident): no DOM tree (the
# WET tier has none) — block-tag boundaries approximate it; one
# context pass over nearest DEFINITE neighbors instead of jusText's
# iterative edge trimming; integer cross-multiplied thresholds so the
# DuckDB twin is value-exact with zero float comparisons.
#
# Scale: paragraph split + features are ONE map-side projection; the
# context pass is ONE window shuffle on the document id (paragraph
# counts are bounded by page size, so partitions stay small); the
# per-document reassembly rides the SAME partitioning.

#: paragraph-boundary tags — block-level elements per HTML5 flow
#: content; both opening and closing forms split
_BLOCK_TAG_RE = (
    "(?i)</?(p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td|th|"
    "blockquote|section|article|header|footer|nav|aside|form|fieldset|"
    "pre|hr|br)\\b[^>]*>"
)
#: sentinels injected during segmentation — control chars that cannot
#: survive in real text (strip_html-adjacent pipelines already
#: whitespace-normalize them away)
_PARA_SEP = "\x01"
_LINK_MARK = "\x02"

#: stopword alternation for paragraph scoring — a larger set than the
#: 7-word quality-score list because DENSITY thresholds need stable
#: estimates on 20-word paragraphs (RE2 ∩ Java regex, case-folded
#: inline so the oracle replays one pattern)
JUSTEXT_STOPWORDS_RE = (
    "(?i)\\b(the|a|an|of|and|or|to|in|is|are|was|were|be|been|it|its|"
    "this|that|these|those|with|as|for|on|at|by|from|he|she|they|we|"
    "you|i|his|her|their|our|not|but|have|has|had|do|does|did|will|"
    "would|can|could)\\b"
)

#: classification thresholds (integer cross-multiplication forms):
#: link density > 1/5 → bad; length < 40 chars → short; stopword
#: density ≥ 18 % → good when length > 160 chars else near-good
_LINK_DENSITY_NUM, _LINK_DENSITY_DEN = 1, 5
_LEN_SHORT, _LEN_GOOD = 40, 160
_STOP_PCT = 18


def html_paragraphs(html: Column) -> Column:
    """Paragraph array from raw HTML: script/style/comments dropped,
    block-level tags become paragraph separators, opening anchor tags
    become in-text link marks (``\\x02`` — counted then removed by the
    feature pass), remaining tags stripped, the six ubiquitous
    entities decoded.  Pure Catalyst; returns array<string> of
    UNNORMALIZED paragraph chunks (empties included — the feature
    pass filters them after whitespace collapse)."""
    t = F.regexp_replace(html, r"(?is)<script[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, _BLOCK_TAG_RE, _PARA_SEP)
    t = F.regexp_replace(t, r"(?i)<a\b[^>]*>", _LINK_MARK)
    t = F.regexp_replace(t, r"<[^>]*>", " ")
    for ent, ch in (
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"),
    ):
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.split(t, _PARA_SEP)


#: columns ``justext_paragraphs`` makes (internal ones included) and
#: the ones ``wet_main_content`` adds on top: a ``carry`` column of the
#: same name would be shadowed or made ambiguous
_JUSTEXT_COLS = (
    "_pi", "_chunk", "para_text", "n_links", "n_chars", "n_words",
    "n_stop", "cf_class", "para_pos", "_c2", "final_class",
)
_WET_COLS = (
    "n_paras_total", "n_paras_good", "_mt", "main_text", "n_chars_main",
)


def _check_carry(carry: tuple, id_col: str, reserved: tuple) -> None:
    clash = sorted({c for c in carry if c == id_col or c in reserved})
    if clash:
        raise ValueError(f"carry column(s) {clash} collide with {id_col!r} "
                         "or a column this function makes")


def justext_paragraphs(
    df: DataFrame,
    payload_col: str = "payload_text",
    id_col: str = "doc_id",
    carry: tuple = (),
) -> DataFrame:
    """Paragraph-level boilerplate classification over HTTP payloads
    (the ``wet_extract`` gating: 2xx + text/html only): one row per
    non-empty paragraph with features and both classes.

    ``carry`` names document-level columns (functionally dependent on
    ``id_col``) to pass through unchanged — they ride the explode and
    the windows without affecting partitioning or classes (r20 opt:
    lets ``crawl_survivors`` keep the URL alongside the text instead
    of joining back through a second evaluation of the Python decode
    lineage; default () is the historical shape).

    Context-free class:
      - ``bad``       link density > 20 % (5·links > words)
      - ``short``     < 40 chars (too little evidence either way)
      - ``good``      stopword density ≥ 18 % and > 160 chars
      - ``neargood``  stopword density ≥ 18 % (but short of good)
      - ``bad``       otherwise (fluent-length, stopword-poor text is
                      navigation/boilerplate — the core jusText signal)

    Context pass — the PUBLISHED jusText revision (Pomikálek 2011;
    justext/core.py ``revise_paragraph_classification``, minus the
    heading-promotion step, which needs tag identity this paragraph
    model does not carry), in closed form:

      1. ``short`` revision against the nearest ORIGINAL definite
         (good/bad) neighbor each side (document edges count bad):
         both good → good; both bad → bad; MIXED → good iff the bad
         side's nearest non-short neighbor is a ``neargood`` (the
         published "good on one side, neargood on the other"
         exception), else bad.  Published justext applies all short
         revisions after the scan, so this pass reads only original
         classes — no recurrence.
      2. ``neargood`` revision against the nearest POST-STEP-1
         definite neighbor each side (revised shorts count; edges
         bad): good on either side → good, else bad.  The published
         in-place scan makes each revised neargood definite for the
         next one — but within a consecutive neargood run between
         definite L and R that recurrence collapses to "the whole run
         is good iff L or R is good", so one window pass per side is
         the exact fixpoint.

    Both steps ride ONE exchange+sort (every window shares the
    doc-id partitioning and paragraph order).

    Raises ``ValueError`` when a ``carry`` name is ``id_col`` or one
    of this function's internal or output columns."""
    _check_carry(carry, id_col, _JUSTEXT_COLS)
    p = F.col(payload_col)
    status = http_status(p)
    ctype = http_header(p, "content-type")
    is_html = (
        (status >= 200) & (status < 300)
        & F.lower(F.coalesce(ctype, F.lit(""))).startswith("text/html")
    )
    paras = F.when(is_html, html_paragraphs(http_body(p)))
    raw = df.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.posexplode(paras).alias("_pi", "_chunk"),
    )
    n_links = (
        F.length(F.col("_chunk"))
        - F.length(F.regexp_replace(F.col("_chunk"), _LINK_MARK, ""))
    )
    txt = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("_chunk"), _LINK_MARK, " "),
            r"\s+", " ",
        )
    )
    feats = (
        raw.select(
            F.col(id_col),
            *[F.col(c) for c in carry],
            F.col("_pi"),
            txt.alias("para_text"),
            n_links.alias("n_links"),
        )
        .filter(F.col("para_text") != "")
        .select(
            "*",
            F.length("para_text").alias("n_chars"),
            F.size(F.split(F.col("para_text"), r"\s+")).alias("n_words"),
            F.regexp_count(
                F.col("para_text"), F.lit(JUSTEXT_STOPWORDS_RE)
            ).alias("n_stop"),
        )
    )
    cf = (
        F.when(
            F.col("n_links") * _LINK_DENSITY_DEN
            > F.col("n_words") * _LINK_DENSITY_NUM,
            F.lit("bad"),
        )
        .when(F.col("n_chars") < _LEN_SHORT, F.lit("short"))
        .when(
            (F.col("n_stop") * 100 >= F.col("n_words") * _STOP_PCT)
            & (F.col("n_chars") > _LEN_GOOD),
            F.lit("good"),
        )
        .when(
            F.col("n_stop") * 100 >= F.col("n_words") * _STOP_PCT,
            F.lit("neargood"),
        )
        .otherwise(F.lit("bad"))
    )
    w = Window.partitionBy(id_col).orderBy("_pi")
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    after = w.rowsBetween(1, Window.unboundedFollowing)
    definite = F.when(
        F.col("cf_class").isin("good", "bad"), F.col("cf_class")
    )
    nonshort = F.when(F.col("cf_class") != "short", F.col("cf_class"))
    prev_d = F.coalesce(
        F.last(definite, ignorenulls=True).over(before), F.lit("bad")
    )
    next_d = F.coalesce(
        F.first(definite, ignorenulls=True).over(after), F.lit("bad")
    )
    prev_ng = F.last(nonshort, ignorenulls=True).over(before)
    next_ng = F.first(nonshort, ignorenulls=True).over(after)
    short_new = (
        F.when((prev_d == "good") & (next_d == "good"), F.lit("good"))
        .when((prev_d == "bad") & (next_d == "bad"), F.lit("bad"))
        .when(  # mixed {good, bad}: the published neargood exception
            ((prev_d == "bad") & (prev_ng == "neargood"))
            | ((next_d == "bad") & (next_ng == "neargood")),
            F.lit("good"),
        )
        .otherwise(F.lit("bad"))
    )
    step1 = (
        feats.withColumn("cf_class", cf)
        .withColumn("para_pos", F.row_number().over(w) - 1)
        .withColumn(
            "_c2",
            F.when(F.col("cf_class") == "short", short_new).otherwise(
                F.col("cf_class")
            ),
        )
    )
    definite2 = F.when(F.col("_c2").isin("good", "bad"), F.col("_c2"))
    prev2 = F.coalesce(
        F.last(definite2, ignorenulls=True).over(before), F.lit("bad")
    )
    next2 = F.coalesce(
        F.first(definite2, ignorenulls=True).over(after), F.lit("bad")
    )
    final = F.when(
        F.col("_c2") == "neargood",
        F.when(
            (prev2 == "good") | (next2 == "good"), F.lit("good")
        ).otherwise(F.lit("bad")),
    ).otherwise(F.col("_c2"))
    return step1.withColumn("final_class", final).drop("_pi", "_c2")


def wet_main_content(
    df: DataFrame,
    payload_col: str = "payload_text",
    id_col: str = "doc_id",
    carry: tuple = (),
) -> DataFrame:
    """Per-document main content after jusText-style classification:
    (id, main_text = the good paragraphs in order, n_paras_total,
    n_paras_good, n_chars_main).  Documents whose every paragraph is
    boilerplate yield main_text NULL (kept — the drop-accounting
    contract of wet_extract).  Same plan as ``justext_paragraphs``
    plus ONE aggregation riding the window's partitioning.

    ``carry`` columns (document-level, functionally dependent on the
    id — see ``justext_paragraphs``) become extra groupBy keys and
    output columns after ``id_col``: same groups, since each id has
    exactly one carry tuple.  Raises ``ValueError`` when a ``carry``
    name collides as in ``justext_paragraphs`` or with one of this
    function's aggregate columns."""
    _check_carry(carry, id_col, _WET_COLS)
    paras = justext_paragraphs(df, payload_col, id_col, carry=carry)
    good = F.col("final_class") == "good"
    agg = paras.groupBy(id_col, *carry).agg(
        F.count(F.lit(1)).alias("n_paras_total"),
        F.sum(good.cast("int")).alias("n_paras_good"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(good, F.struct("para_pos", "para_text"))
                    )
                ),
                lambda s: s["para_text"],
            ),
            " ",
        ).alias("_mt"),
    )
    return agg.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.when(F.col("_mt") != "", F.col("_mt")).alias("main_text"),
        "n_paras_total",
        "n_paras_good",
        F.coalesce(F.length("_mt"), F.lit(0)).alias("n_chars_main"),
    )


# --------------------------------------------------------------------------
# robots.txt: REP parsing + longest-match URL filtering (RFC 9309)
# --------------------------------------------------------------------------

def parse_robots(
    df: DataFrame, payload_col: str = "robots_txt", host_col: str = "host"
) -> DataFrame:
    """Parse robots.txt payloads into ``(host, agent, allow, rule)``
    rows per the Robots Exclusion Protocol (RFC 9309): consecutive
    ``User-agent`` lines open a group, ``Allow``/``Disallow`` lines
    attach to every agent of the open group; comments (``#``), blank
    lines and unknown directives (Crawl-delay, Sitemap, …) are
    skipped; keys are case-insensitive; agents lowercase.  Empty-path
    Disallow lines ("allow all") match nothing by definition and are
    dropped here — a host whose rules all drop is simply
    unrestricted.

    Plan: one line explode → two windows on the same (host, line-pos)
    sort (group boundary lag + running group id) → an agents×rules
    join co-partitioned on (host, group).  Robots corpora are tiny
    next to the URL sets they gate; the output is the broadcastable
    rule table ``robots_filter`` consumes."""
    lines = df.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(payload_col), "\n")).alias(
            "_pos", "_line"
        ),
    )
    clean = F.trim(F.regexp_replace(F.col("_line"), "#.*", ""))
    key = F.lower(F.trim(F.regexp_extract(clean, "^([^:]+):", 1)))
    val = F.trim(F.regexp_extract(clean, "^[^:]+:(.*)", 1))
    typed = (
        lines.select(
            "host", "_pos", key.alias("_key"), val.alias("_val")
        )
        .filter(F.col("_key").isin("user-agent", "allow", "disallow"))
    )
    w = Window.partitionBy("host").orderBy("_pos")
    is_ua = F.col("_key") == "user-agent"
    boundary = is_ua & ~F.coalesce(
        F.lag(is_ua).over(w), F.lit(False)
    )
    grouped = typed.withColumn(
        "_grp",
        F.sum(boundary.cast("int")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    agents = grouped.filter(is_ua).select(
        "host", "_grp", F.lower(F.col("_val")).alias("agent")
    )
    rules = grouped.filter(~is_ua & (F.col("_val") != "")).select(
        "host", "_grp",
        (F.col("_key") == "allow").alias("allow"),
        F.col("_val").alias("rule"),
    )
    return agents.join(rules, ["host", "_grp"]).select(
        "host", "agent", "allow", "rule"
    )


def _robots_rule_regex(rule: Column) -> Column:
    """RFC 9309 path-pattern → anchored regex, as a Catalyst
    expression over the rule column: ``$`` (final char only) anchors
    the end, ``*`` matches any run, every other regex metacharacter
    is escaped.  The same translation exists in Python
    (``robots_rule_regex_py``) for oracle generation — one pinned
    contract, two implementations, cross-checked by pytest."""
    ends = rule.endswith("$")
    body = F.when(
        ends, F.substring(rule, 1, F.length(rule) - 1)
    ).otherwise(rule)
    esc = F.regexp_replace(
        body, r"([.\[\]{}()+?^$|\\])", r"\\$1"
    )
    return F.concat(
        F.lit("^"),
        F.replace(esc, F.lit("*"), F.lit(".*")),
        F.when(ends, F.lit("$")).otherwise(F.lit("")),
    )


def robots_rule_regex_py(rule: str) -> str:
    """Python twin of ``_robots_rule_regex`` for oracle literals."""
    import re as _re

    ends = rule.endswith("$")
    body = rule[:-1] if ends else rule
    esc = _re.sub(r"([.\[\]{}()+?^$|\\])", r"\\\1", body)
    return "^" + esc.replace("*", ".*") + ("$" if ends else "")


def robots_filter(
    urls: DataFrame,
    robots_rules: DataFrame,
    agent: str = "*",
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop URLs the Robots Exclusion Protocol disallows for
    ``agent`` — the retroactive robots pass corpus releases apply
    (RefinedWeb-style): per host, the agent's OWN group replaces the
    ``*`` group entirely when one exists (RFC 9309 group choice);
    within the chosen group the LONGEST matching rule wins, allow
    winning length ties; unmatched URLs, unknown hosts and invalid
    URLs pass.  The path compared is ``url_path`` (query excluded,
    '/' when empty) — document-level gating, not parameter-level.

    Plan: rule table broadcast against the URL set (robots corpora
    are per-host and tiny next to 100 TB of URLs), per-(url, rule)
    regex match map-side, one groupBy per URL id for the
    longest-match winner, and one anti-join to drop the blocked ids —
    no shuffle touches URL payloads except that id anti-join."""
    a = agent.lower()
    own = robots_rules.filter(F.col("agent") == a)
    eff = own.unionByName(
        robots_rules.filter(F.col("agent") == "*").join(
            own.select("host").distinct(), "host", "left_anti"
        )
    ).select(
        "host", "allow", "rule", _robots_rule_regex(F.col("rule")).alias("_re")
    )
    u = urls.select(
        F.col(id_col).alias("_id"),
        F.lower(url_host(F.col(url_col))).alias("_host"),
        F.coalesce(
            F.nullif(url_path(F.col(url_col)), F.lit("")), F.lit("/")
        ).alias("_path"),
    )
    j = u.join(F.broadcast(eff), u["_host"] == eff["host"], "left")
    verdict = j.groupBy("_id").agg(
        F.max(
            F.when(
                F.regexp_like(F.col("_path"), F.col("_re")),
                F.struct(
                    F.length("rule").alias("l"), F.col("allow").alias("a")
                ),
            )
        ).alias("_w")
    )
    blocked = verdict.filter(
        F.col("_w").isNotNull() & ~F.col("_w.a")
    ).select(F.col("_id").alias(id_col))
    return urls.join(blocked, id_col, "left_anti")
