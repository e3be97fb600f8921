"""Web-corpus operators: URL canonicalization, host rollups, and
C4-style corpus-level line deduplication.

All engine-portable (the DuckDB gate recomputes each value):

- ``canonical_url_col`` — lowercase scheme+host, strip fragment,
  drop default ports, sort query parameters (the classic crawl-dedup
  key normalization). Pure regex/HOF codegen.
- ``host_col`` / host rollups — per-host aggregations; the synthetic
  corpus has a deliberately skewed host distribution, and a plain
  hash aggregation (partial map-side combine) handles it — skew only
  bites aggregations whose per-key STATE grows with rows (collect_*)
  or joins (see `skew.salted_equi_join`).
- ``line_dedup`` — C4's line-level dedup (Raffel et al. 2020 §2.2
  "we discarded all but one of any three-sentence span occurring more
  than once"): here at line granularity — every line keeps only its
  first occurrence corpus-wide (min doc_id, then min line_no), and
  docs are reassembled from their surviving lines in order. One
  explode + one min-struct hash aggregation over the line + one
  re-aggregation: shuffle bounded by distinct lines, map-side combine
  absorbs hot boilerplate lines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from docling_eval_spark.session import coalesce_to_rows, release_checkpoint


def canonical_url_col(url: Column | str) -> Column:
    """Canonical crawl key for a URL column."""
    u = F.col(url) if isinstance(url, str) else url
    no_frag = F.regexp_replace(u, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(no_frag, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(
        F.regexp_extract(no_frag, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?]+)", 1)
    )
    # drop default ports
    host = (
        F.when((scheme == "http"), F.regexp_replace(hostport, r":80$", ""))
        .when((scheme == "https"), F.regexp_replace(hostport, r":443$", ""))
        .otherwise(hostport)
    )
    path = F.regexp_extract(no_frag, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?]+([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(no_frag, r"\?(.*)$", 1)
    sorted_q = F.array_join(
        F.array_sort(F.filter(F.split(query, "&"), lambda x: x != "")), "&"
    )
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(sorted_q != "", F.concat(F.lit("?"), sorted_q)).otherwise(F.lit("")),
    )


def host_col(url: Column | str) -> Column:
    u = F.col(url) if isinstance(url, str) else url
    return F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/:?]+)", 1))


def host_stats(df: DataFrame, url_col: str = "url", text_col: str = "text") -> DataFrame:
    """Per-host doc count + mean text length — one hash aggregation
    with map-side combine (skewed hosts partial-aggregate before the
    exchange, so the heavy key never concentrates raw rows)."""
    return (
        df.select(host_col(url_col).alias("host"), F.length(text_col).alias("n"))
        .groupBy("host")
        .agg(
            F.count("*").alias("docs"),
            F.round(F.avg("n"), 6).alias("mean_chars"),
        )
    )


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    line_sep: str = "\n",
) -> DataFrame:
    """Corpus-level line dedup (C4-style): a line survives only in the
    document where it first occurs (min id, then min line position);
    returns (id, text) with each doc reassembled from its surviving
    lines in original order. Docs whose every line was seen earlier
    are ABSENT from the output (no surviving line rows → no group);
    left-join the original id spine if per-doc presence matters.

    Plan: explode lines with position → min(struct(id, line_no)) HASH
    aggregation per line → re-aggregate per doc ordered by position.
    The min-struct agg (not a row_number window) is the skew defence:
    a boilerplate line repeated millions of times — the exact C4 hot
    case — partial-aggregates map-side to one row per task before the
    exchange, so the hot key never concentrates raw rows for a per-key
    sort. Shuffle is bounded by DISTINCT lines, with O(1) state per
    key."""
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), line_sep)).alias("line_no", "line"),
    ).filter(F.trim("line") != "")
    kept = (
        lines.groupBy("line")
        .agg(F.min(F.struct("id", "line_no")).alias("__first"))
        .select(
            F.col("__first.id").alias("id"),
            F.col("__first.line_no").alias("line_no"),
            "line",
        )
    )
    return (
        kept.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("line_no", "line"))
                    ),
                    lambda x: x["line"],
                ),
                line_sep,
            ).alias("text")
        )
    )


def cap_per_key(
    df: DataFrame,
    key_col: str,
    id_col: str,
    n: int,
) -> DataFrame:
    """Keep at most ``n`` rows per key — the per-host cap every crawl
    corpus applies so mega-hosts don't dominate training data.

    Deterministic md5-of-id order, ``row_number <= n`` per key.
    Engine-portable (the DuckDB oracle replicates the md5 ranking
    bit-for-bit) and exactly n. The window sorts each key's rows in
    one task — fine up to large hosts, but a single pathological key
    with 10^9 rows lands on one reducer."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(
        F.md5(F.col(id_col).cast("string"))
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n)
        .drop("__rn")
    )


# ---------------------------------------------------------------- robots

def _robots_pattern_to_regex(pattern: str) -> str:
    """RFC 9309 path pattern → anchored regex: '*' matches any octet
    run, trailing '$' anchors the end; everything else is literal."""
    import re as _re

    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    out = []
    for piece in body.split("*"):
        out.append(_re.escape(piece))
    return "^" + ".*".join(out) + ("$" if anchored else "")


def parse_robots_rules(
    robots_txt: str, agent: str = "*"
) -> list[tuple[bool, str, int]]:
    """robots.txt → [(allow, regex, pattern_len)] for the group that
    governs ``agent`` per RFC 9309 (public spec): the group whose
    user-agent token is the LONGEST case-insensitive match for the
    product token wins; '*' is the fallback group; rule precedence at
    match time is longest-pattern-wins, allow beating disallow on
    ties (handled by the caller via (len, allow) ordering)."""
    groups: list[tuple[list[str], list[tuple[bool, str]]]] = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[bool, str]] = []
    in_group_body = False
    for raw in robots_txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if in_group_body and cur_agents:
                groups.append((cur_agents, cur_rules))
                cur_agents, cur_rules = [], []
                in_group_body = False
            cur_agents.append(value.lower())
        elif field in ("allow", "disallow"):
            if not cur_agents:
                # RFC 9309: a rule outside any group is invalid —
                # ignore it rather than leak it into the first group
                continue
            in_group_body = True
            if value:
                cur_rules.append((field == "allow", value))
            elif field == "disallow":
                # "Disallow:" empty = allow everything (no rule)
                pass
    if cur_agents:
        groups.append((cur_agents, cur_rules))

    # RFC 9309 §2.2.1: the crawler obeys the MOST SPECIFIC matching
    # user-agent token; when several groups match at that same
    # specificity (e.g. two 'User-agent: *' blocks), their rules are
    # COMBINED, not first-wins.
    tok = agent.lower()
    best_len = -1
    for agents, _rules in groups:
        for a in agents:
            if a == "*":
                best_len = max(best_len, 0)
            elif tok.startswith(a):
                best_len = max(best_len, len(a))
    merged: list[tuple[bool, str]] = []
    for agents, rules in groups:
        hit = any(
            (a == "*" and best_len == 0)
            or (a != "*" and tok.startswith(a) and len(a) == best_len)
            for a in agents
        )
        if hit:
            merged.extend(rules)
    return [
        (allow, _robots_pattern_to_regex(p), len(p)) for allow, p in merged
    ]


def _url_path_col(url: Column) -> Column:
    """URL → path(+query) for robots matching, as a pure column
    expression (the SQL twin of the old Python slicing): strip the
    scheme at the first '://', then take from the first '/', or '/' +
    query when only a '?' is present, else '/'. 1-based ``instr``
    mirrors 0-based ``str.find`` exactly (0 == absent)."""
    # rest appears several times below but each occurrence is a cheap
    # codegen'd string op (no HOF re-eval hazard outside lambdas);
    # split at the FIRST '://' (substr from instr+3), matching
    # Python's url.split('://', 1)
    rest = F.when(
        F.instr(url, "://") > 0, F.substr(url, F.instr(url, "://") + 3)
    ).otherwise(url)
    qpos = F.instr(rest, "?")
    spos = F.instr(rest, "/")
    return (
        F.when(
            (spos > 0) & ((qpos == 0) | (spos < qpos)),
            F.substr(rest, spos),
        )
        .when(qpos > 0, F.concat(F.lit("/"), F.substr(rest, qpos)))
        .otherwise(F.lit("/"))
    )


def robots_filter_stage(
    pages: DataFrame,
    robots: DataFrame,
    agent: str = "*",
    url_col: str = "url",
    out_col: str = "robots_allowed",
) -> DataFrame:
    """Append a ``robots_allowed`` flag by joining per-host robots.txt
    and deciding per URL (RFC 9309 longest-match, allow wins ties).

    Scale shape: ``robots`` is (host, robots_txt) — one small row per
    host — so the join broadcasts. The dominant crawl case (host has
    no robots.txt, or a robots.txt whose governing group has no rules
    for ``agent``) is decided ENTIRELY in SQL: those rows short-circuit
    to allowed and never enter Python. Only rows of rule-bearing hosts
    reach the Arrow kernel, where the path is a pre-computed column
    and each rule's regex is applied VECTORIZED over the whole
    same-robots row group (pandas str.contains at C level), not in a
    per-row interpreter loop. Hosts with no robots.txt are allowed
    (the crawler convention for 404).

    Cost trade, explicit: the fast/slow union reads the ``pages``
    source TWICE (disjoint filters over the same subtree; the robots
    dim is tiny and re-broadcast). Against a columnar store with the
    url column pruned, two scans are far cheaper than one scan that
    routes every row through Python — but the two scans MUST observe
    the same rows. If the upstream is non-deterministic (sampling,
    uuid ids, a re-listed object store), ``.persist()`` or
    ``localCheckpoint()`` it before calling."""
    from collections.abc import Iterator as _It

    import numpy as np
    import pandas as pd
    import pyspark.sql.types as T

    # no type hints: postponed-annotation strings break hint inference
    _has_rules = F.pandas_udf(
        lambda txts: txts.map(
            lambda t: t is not None and bool(parse_robots_rules(t, agent))
        ),
        "boolean",
    )

    dim = robots.select(
        F.col("host").alias("__host"),
        F.col("robots_txt").alias("__robots"),
    ).withColumn("__has_rules", _has_rules(F.col("__robots")))
    joined = pages.withColumn("__host", host_col(F.col(url_col))).join(
        F.broadcast(dim), "__host", "left"
    )
    keep = [f.name for f in joined.schema.fields if not f.name.startswith("__")]
    schema = T.StructType(
        [f for f in joined.schema.fields if not f.name.startswith("__")]
        + [T.StructField(out_col, T.BooleanType())]
    )

    # SQL fast path: no robots row, or robots with zero governing rules
    fast = (
        joined.filter(F.col("__robots").isNull() | ~F.col("__has_rules"))
        .select(*keep)
        .withColumn(out_col, F.lit(True))
    )
    slow_in = joined.filter(
        F.col("__robots").isNotNull() & F.col("__has_rules")
    ).withColumn("__path", _url_path_col(F.col(url_col)))

    def kernel(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import re as _re

        rules_cache: dict = {}
        for pdf in batches:
            n = len(pdf)
            verdicts = np.ones(n, dtype=bool)
            if n:
                paths = pdf["__path"]
                for txt, idx in pdf.groupby(
                    "__robots", sort=False
                ).indices.items():
                    if txt not in rules_cache:
                        rules_cache[txt] = [
                            (allow, _re.compile(rx), plen)
                            for allow, rx, plen in parse_robots_rules(txt, agent)
                        ]
                    sub = paths.iloc[idx]
                    m_len = np.full(len(idx), -1, dtype=np.int64)
                    m_allow = np.zeros(len(idx), dtype=bool)
                    # best = max over matching rules of (pattern_len,
                    # allow); each rule applies C-vectorized over the
                    # whole same-robots group
                    for allow, rx, plen in rules_cache[txt]:
                        hit = sub.str.contains(rx, regex=True).to_numpy()
                        upd = hit & (
                            (plen > m_len)
                            | ((plen == m_len) & allow & ~m_allow)
                        )
                        m_len[upd] = plen
                        m_allow[upd] = allow
                    verdicts[idx] = np.where(m_len >= 0, m_allow, True)
            out = pdf.drop(columns=[c for c in pdf.columns if c.startswith("__")])
            out[out_col] = verdicts
            yield out

    slow = slow_in.mapInPandas(kernel, schema=schema)
    return fast.unionByName(slow)


# ---------------------------------------------------------------- web graph

def _resolve_href(h: Column, scheme: Column, origin: Column) -> Column:
    """Crawl-graph href resolution for :func:`extract_anchors`:
    absolute http(s) hrefs pass through; '//' protocol-relative
    inherit the source scheme; '/'-rooted resolve against the source
    origin; everything else (relative paths, fragments, javascript:)
    → NULL, filtered by callers — the crawl-graph convention, they
    dominate nav noise."""
    return (
        F.when(h.rlike("(?i)^https?://"), h)
        .when(h.startswith("//"), F.concat(scheme, F.lit(":"), h))
        .when(h.startswith("/"), F.concat(origin, h))
        .otherwise(F.lit(None))
    )


def _scheme_and_authority(src: Column) -> tuple[Column, Column]:
    scheme = F.lower(F.regexp_extract(src, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    # authority VERBATIM (keeps :port — host_col would drop it and a
    # rooted link on example.com:8080 must not resolve to example.com)
    authority = F.regexp_extract(src, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?]+)", 1)
    return scheme, authority


def extract_anchors(
    df: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(src, dst, anchor) outlink edges WITH their anchor text — the
    target-description signal (classic web-corpus use: anchor text
    describes the TARGET page better than the target's own markup;
    also the spam/nepotism feature the per-host rollup feeds on).

    Anchor text = the <a> element's inner markup with tags stripped
    and whitespace collapsed; an image-only link yields ''. Entities
    stay UNdecoded (raw markup minus tags) — entity semantics belong
    to the extraction kernel; this is the link-graph view. Anchors
    without an href, and hrefs :func:`_resolve_href` rejects, are
    dropped. The edge list is NOT
    deduplicated: the same (src, dst) with two different anchor texts
    is two signals.

    Pure SQL (one narrow map, zero shuffle, no Python): element scan
    via non-greedy regexp_extract_all, then per-element href/inner
    extraction inside a single ``transform``.
    """
    from docling_eval_spark.functions import let_col

    src = F.col(url_col)
    elems = F.regexp_extract_all(
        F.col(html_col).cast("string"),
        F.lit(r"(?is)<a\s[^>]*>.*?</a>"),
        0,
    )
    scheme_expr, authority = _scheme_and_authority(src)

    def over_scheme(scheme: Column) -> Column:
        def over_origin(origin: Column) -> Column:
            def one(el: Column) -> Column:
                h = F.regexp_extract(
                    el, "(?is)href\\s*=\\s*[\"']([^\"']*)[\"']", 1
                )
                inner = F.regexp_extract(el, r"(?is)^<a[^>]*>(.*)</a>$", 1)
                anchor = F.trim(
                    F.regexp_replace(
                        F.regexp_replace(inner, r"<[^>]*>", " "),
                        r"[ \t\n\r\f\v]+",
                        " ",
                    )
                )
                return F.struct(
                    _resolve_href(h, scheme, origin).alias("dst"),
                    anchor.alias("anchor"),
                )

            return F.transform(elems, one)

        return let_col(
            F.concat(scheme, F.lit("://"), authority), over_origin
        )

    pairs = let_col(scheme_expr, over_scheme)
    return (
        df.select(src.alias("src"), F.explode(pairs).alias("p"))
        .select("src", F.col("p.dst").alias("dst"), F.col("p.anchor").alias("anchor"))
        .filter(F.col("dst").isNotNull())
    )


def anchor_text_rollup(
    anchors: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    anchor_col: str = "anchor",
) -> DataFrame:
    """(dst, anchor, n_anchors, n_src_hosts): how often each distinct
    anchor string points at each target, and from how many DISTINCT
    source hosts — the nepotism discriminator (10^6 anchors from one
    host is a link farm; from 10^4 hosts it is a description).

    Scale: one (dst, anchor) hash agg with map-side combine absorbing
    hot targets (every homepage is one); the exact distinct-host count
    rides the same keyed aggregation (Spark plans count(DISTINCT) as
    a two-phase expand+agg on the SAME key — no extra key appears, so
    skew stays bounded by the map-side partials)."""
    return anchors.groupBy(
        F.col(dst_col).alias("dst"), F.col(anchor_col).alias("anchor")
    ).agg(
        F.count("*").alias("n_anchors"),
        F.countDistinct(host_col(F.col(src_col))).alias("n_src_hosts"),
    )


# PSL-lite: common multi-label public suffixes under which names are
# registered one level deeper (the full Mozilla Public Suffix List is
# ~9k rules with wildcards/exceptions; this deterministic subset covers
# the dominant ccTLD second-level registries and is PLUGGABLE — pass
# the full list via ``suffixes`` for production crawls).
_PSL_LITE = frozenset(
    (
        "co.uk org.uk ac.uk gov.uk me.uk net.uk ltd.uk plc.uk sch.uk "
        "com.au net.au org.au edu.au gov.au id.au asn.au "
        "co.jp or.jp ne.jp ac.jp go.jp ad.jp ed.jp lg.jp gr.jp "
        "co.nz org.nz net.nz govt.nz ac.nz school.nz geek.nz gen.nz "
        "co.za org.za net.za gov.za ac.za web.za "
        "com.br net.br org.br gov.br edu.br art.br blog.br "
        "com.cn net.cn org.cn gov.cn edu.cn ac.cn "
        "com.mx org.mx net.mx gob.mx edu.mx "
        "co.in net.in org.in firm.in gen.in ind.in gov.in ac.in edu.in res.in "
        "com.tr net.tr org.tr gov.tr edu.tr web.tr "
        "com.tw net.tw org.tw gov.tw edu.tw idv.tw "
        "co.kr or.kr ne.kr go.kr ac.kr re.kr pe.kr "
        "com.sg net.sg org.sg gov.sg edu.sg per.sg "
        "com.hk net.hk org.hk gov.hk edu.hk idv.hk "
        "com.ar net.ar org.ar gob.ar edu.ar int.ar "
        "com.pl net.pl org.pl gov.pl edu.pl waw.pl "
        "co.il org.il net.il gov.il ac.il muni.il k12.il "
        "com.ua net.ua org.ua gov.ua edu.ua in.ua "
        "com.my net.my org.my gov.my edu.my "
        "co.th or.th in.th go.th ac.th "
        "com.vn net.vn org.vn gov.vn edu.vn "
        "com.eg net.eg org.eg gov.eg edu.eg "
        "com.ng net.ng org.ng gov.ng edu.ng "
        "co.id or.id web.id ac.id sch.id go.id "
        "com.ph net.ph org.ph gov.ph edu.ph"
    ).split()
)


def registered_domain_col(
    url: Column | str,
    suffixes: frozenset[str] | set[str] = _PSL_LITE,
) -> Column:
    """eTLD+1 (registered domain) of a URL's host — THE correct key for
    per-site caps and rollups at crawl scale (per-HOST keys overcount:
    every *.blogspot-style subdomain looks like a distinct site, while
    shop.example.co.uk and www.example.co.uk are one registrant).

    Pure column algebra: label-split, then one literal IN against the
    suffix set decides 2-label vs 3-label cut. Hosts with ≤2 labels,
    IPv4 literals, and empty hosts pass through unchanged. The suffix
    set becomes a literal in the plan (no join, no broadcast, no
    Python) — at ~200 entries that is the right trade; a full 9k-rule
    PSL would switch to a broadcast map without changing callers."""
    host = host_col(url)
    parts = F.split(host, r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(".", F.slice(parts, n - 1, 2))
    return (
        F.when((n <= 2) | host.rlike(r"^[0-9.]+$"), host)
        .when(
            last2.isin(*sorted(suffixes)),
            F.concat_ws(".", F.slice(parts, n - 2, 3)),
        )
        .otherwise(last2)
    )


def domain_rollup(
    df: DataFrame,
    url_col: str = "url",
    suffixes: frozenset[str] | set[str] = _PSL_LITE,
) -> DataFrame:
    """(domain, n_pages, n_hosts): per-registered-domain page count +
    exact distinct-host count (how sprawling each site's subdomain
    space is — the input to site-level caps and mixing decisions).
    One keyed hash agg; map-side combine absorbs megasites."""
    return df.groupBy(
        registered_domain_col(url_col, suffixes).alias("domain")
    ).agg(
        F.count("*").alias("n_pages"),
        F.countDistinct(host_col(F.col(url_col))).alias("n_hosts"),
    )


def page_metadata(
    df: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(url, title, html_lang, canonical_url, meta_noindex): the <head>
    signals every crawl pipeline reads before touching body text —
    title (ws-collapsed), the <html lang> hint (feeds lang-ID priors),
    rel=canonical resolved through the SAME href rules as the link
    extractor (so canonical-vs-self dedup keys agree with the web
    graph), and the robots-meta noindex bit (the in-page half of the
    RFC 9309 gate). Pure SQL narrow map, zero shuffle, no Python;
    absent signals are NULL (noindex defaults false)."""
    from docling_eval_spark.functions import let_col

    src = F.col(url_col)
    h = F.col(html_col).cast("string")
    title_raw = F.regexp_extract(h, r"(?is)<title[^>]*>(.*?)</title>", 1)
    title = F.trim(F.regexp_replace(title_raw, r"[ \t\n\r\f\v]+", " "))
    lang_raw = F.regexp_extract(
        h, "(?is)<html[^>]*?\\slang\\s*=\\s*[\"']?([A-Za-z-]+)", 1
    )
    links = F.regexp_extract_all(h, F.lit(r"(?is)<link\s[^>]*>"), 0)
    # F.get (not element_at): NULL on empty array instead of the ANSI
    # out-of-bounds error — pages without a canonical link are the norm
    canon_elem = F.get(
        F.filter(
            links,
            lambda el: el.rlike("(?is)rel\\s*=\\s*[\"']canonical[\"']"),
        ),
        0,
    )
    canon_href = F.regexp_extract(
        canon_elem, "(?is)href\\s*=\\s*[\"']([^\"']*)[\"']", 1
    )
    # element-scan like the canonical path: filter on name, test
    # content separately, so BOTH attribute orders match (a single
    # name-then-content regex silently passes <meta content=... name=...>)
    metas = F.regexp_extract_all(h, F.lit(r"(?is)<meta\s[^>]*>"), 0)
    noindex = F.coalesce(
        F.exists(
            metas,
            lambda el: el.rlike("(?is)name\\s*=\\s*[\"']robots[\"']")
            & el.rlike("(?is)content\\s*=\\s*[\"'][^\"']*noindex"),
        ),
        F.lit(False),
    )
    scheme_expr, authority = _scheme_and_authority(src)

    def over_origin(origin: Column) -> Column:
        return _resolve_href(canon_href, scheme_expr, origin)

    canonical = let_col(
        F.concat(scheme_expr, F.lit("://"), authority), over_origin
    )
    return df.select(
        src.alias("url"),
        F.when(F.length(title) > 0, title).alias("title"),
        F.when(F.length(lang_raw) > 0, F.lower(lang_raw)).alias("html_lang"),
        canonical.alias("canonical_url"),
        noindex.alias("meta_noindex"),
    )


def stratified_sample(
    df: DataFrame,
    key_col: str,
    id_col: str,
    fractions: dict[str, float],
    default_fraction: float = 1.0,
) -> DataFrame:
    """Deterministic per-stratum sampling — the domain-mixing step
    (hold web at 30 %, books at 100 %, …) of training-data curation.
    A row survives iff ``u(id) < fraction[key]`` where ``u`` is an
    engine-portable uniform in [0,1): the polynomial hash (same
    base/modulus as the fingerprint family) of the row id's md5 hex
    string. No randomness, no shuffle, no per-key state — a pure
    filter, reproducible bit-for-bit in any engine and stable across
    reruns/partitionings (the property ``sample()``/Bernoulli RNG
    sampling lacks). Keys absent from ``fractions`` keep
    ``default_fraction`` of their rows."""
    from itertools import chain as _chain

    fmap = F.create_map(
        *_chain.from_iterable(
            (F.lit(k), F.lit(float(v))) for k, v in fractions.items()
        )
    )
    frac = F.coalesce(
        F.element_at(fmap, F.col(key_col)), F.lit(float(default_fraction))
    )
    # single source of truth for the portable polynomial hash — the
    # same base/modulus every fingerprint/oracle pair already shares
    from docling_eval_spark.operators.text_analysis import _FP_BASE, _FP_MOD

    md5s = F.md5(F.col(id_col).cast("string"))
    u = F.aggregate(
        F.split(md5s, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(acc * _FP_BASE + F.ascii(ch), F.lit(_FP_MOD)),
    ) / float(_FP_MOD)
    return df.filter(u < frac)


def _iterate(
    state: DataFrame,
    step,
    iterations: int,
    *,
    every: int,
    tol: float | None = None,
    delta=None,
    finish=None,
    pin_state: bool = False,
    cached: tuple[DataFrame, ...] = (),
) -> DataFrame:
    """The fixpoint driver of the graph loops: ``state = step(state, it)``
    for it = 1 … ``iterations``, returning ``finish(state)`` (default:
    the final state) as a live eager local checkpoint. The inputs the
    loop persisted (``cached``) are unpersisted on return, so only the
    returned frame's blocks outlive the call.

    Checkpoint policy. A lazy loop state deepens its plan by a join and
    an aggregation per step, and analysis/optimization time grows
    superlinearly with that depth (the classic iterative-algorithm
    lineage blowup), so the state is eagerly ``localCheckpoint``-ed
    after step k when k % ``every`` == 0, and the returned frame is
    pinned after the last step. A step that reads its state twice (join
    probe + self-union) needs ``every=1``: a lazy state would double
    the plan per step. The rank loops use 2: their state is a SLIM
    (node, rank) frame, so the materialization is cheap next to the
    plan cost it removes — measured for page_rank on the 167k-node
    sf0.1 graph over 10 iterations: every-8 21.3 s, every-4 13.1 s,
    every-2 10.5 s, every-1 12.2 s (checkpoints never change values;
    the oracles gate that). ``pin_state`` also checkpoints the last
    step's state, for a ``finish`` that reads it more than once. Each
    checkpoint is released with
    :func:`~docling_eval_spark.session.release_checkpoint` as soon as a
    newer one supersedes it (``unpersist`` is a no-op on a local
    checkpoint), bounding executor storage at two state copies.

    ``tol``: optional convergence stop. Every step is then checkpointed
    (so the probe and the next step share one computed frame), the
    scalar ``delta(new, prev)`` — an ACTION — is probed, and the loop
    ends once delta <= tol (``None``, from an empty state, never stops
    it). ``tol=0.0`` stops only on an exact fixpoint, whose skipped
    steps would reproduce the same state, so the output equals the
    fixed-count run; ``None`` (the default) keeps the fixed-count plan
    with no per-step action."""
    ckpt = out = None  # the live checkpoint; the returned frame
    try:
        for it in range(1, iterations + 1):
            prev, state = state, step(state, it)
            pin = pin_state if it == iterations else it % every == 0
            if tol is None and not pin:
                continue
            state = state.localCheckpoint(eager=True)
            d = None if tol is None else delta(state, prev)
            release_checkpoint(ckpt)
            ckpt = state
            if d is not None and d <= tol:
                break
        out = state if finish is None else finish(state)
        if out is not ckpt:
            out = out.localCheckpoint(eager=True)
        return out
    finally:
        if out is not ckpt:
            release_checkpoint(ckpt)
        for df in cached:
            df.unpersist()


def _node_frame(edges: DataFrame) -> DataFrame:
    """Every node on either side of the (src, dst) edges, persisted."""
    return (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 8,
) -> DataFrame:
    """Connected components by min-label propagation over an
    undirected edge list — the "pairs → clusters" apply step of
    near-dup dedup (MinHash/SimHash emit similar PAIRS; keeping one
    doc per duplicate GROUP needs the transitive closure). Returns
    (node, component) where component = the minimum node id reachable
    within ``iterations`` hops; labels converge once iterations ≥ the
    largest component's diameter (near-dup clusters are small and
    clique-like, so single digits suffice; pass more for long chains).

    Scale shape per iteration — identical to :func:`page_rank`'s loop
    and the Pregel-style label propagation it approximates (public
    technique, e.g. Kiveris et al. 2014 "Connected Components in
    MapReduce"): ONE equi-join of labels against the symmetrized edge
    list + ONE map-side-combining min aggregation; no collect, no
    driver state. Duplicate edges are harmless (min is idempotent),
    so no distinct pass is spent on the edge list."""
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    cached = und.union(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist()
    # near-dup pair graphs are tiny next to the corpus that produced
    # them, but inherit its shuffle partitioning: each join+agg round
    # schedules tasks proportional to the graph, not to the corpus
    und = coalesce_to_rows(cached)

    def step(comps: DataFrame, it: int) -> DataFrame:
        contrib = und.join(comps, und["a"] == comps["node"]).select(
            F.col("b").alias("node"), "component"
        )
        return (
            contrib.unionByName(comps.select("node", "component"))
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )

    comps = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    return _iterate(comps, step, iterations, every=1, cached=(cached,))


def page_rank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    tol: float | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over (src, dst) edges — the classic
    crawl-quality signal (Page et al. 1999, public). Returns
    (node, rank) for every node appearing as src or dst.

    ``tol``: optional convergence stop on the L1 delta Σ|rank−prev|
    (one extra id-equi join + scalar agg per iteration; see
    :func:`_iterate`). The default ``None`` keeps the fixed-count plan
    (the oracle-matched mode).

    Simple-sum formulation: rank = (1-d)/N + d * Σ rank(in)/deg(in);
    dangling mass is NOT redistributed (deterministic, cheaper — one
    join per iteration; documented deviation from the stochastic-
    matrix form, fine for ranking use).

    Scale shape per iteration: ONE equi-join of ranks against the
    out-degree-annotated edge list + one map-side-combining sum, then
    one left join back onto the node frame. No collect, no driver
    state. The node ids and the degree-annotated edges are persisted:
    without this each of the 2 joins per iteration re-scans the
    source."""
    nodes = _node_frame(edges)
    n_nodes = nodes.count()
    out_deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    ed = edges.join(out_deg, "src").persist()
    base = (1.0 - damping) / n_nodes

    def step(ranks: DataFrame, it: int) -> DataFrame:
        contribs = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        return nodes.join(contribs, nodes["node"] == contribs["dst"], "left").select(
            "node",
            (
                F.lit(base) + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("rank"),
        )

    def delta(a: DataFrame, b: DataFrame) -> float | None:
        return (
            a.alias("a")
            .join(b.alias("b"), F.col("a.node") == F.col("b.node"))
            .agg(F.sum(F.abs(F.col("a.rank") - F.col("b.rank"))))
            .collect()[0][0]
        )

    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    return _iterate(
        ranks, step, iterations, every=2, tol=tol, delta=delta, cached=(nodes, ed)
    )


def cap_per_key_budget(
    df: DataFrame,
    budgets: DataFrame,
    key_col: str,
    id_col: str,
    budget_col: str = "budget",
) -> DataFrame:
    """VARIABLE per-key cap — :func:`cap_per_key` with the limit
    coming from a per-key ``budgets`` frame instead of one scalar:
    the APPLY step of :func:`frontier.crawl_budget_plan` (each host
    keeps at most its own budget of rows; budget 0 — trap hosts —
    drops the key entirely). ``budgets`` is one row per key —
    millions of hosts at most — so it broadcasts.

    Same ranking as the scalar cap: md5-of-id ``row_number <= budget``
    per key — deterministic and exactly the budget, single-reducer per
    pathological key."""
    b = F.broadcast(
        budgets.select(
            F.col(key_col), F.col(budget_col).alias("__budget")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(
        F.md5(F.col(id_col).cast("string"))
    )
    return (
        df.join(b, key_col)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= F.col("__budget"))
        .drop("__rn", "__budget")
    )


def crawl_trap_score(
    df: DataFrame,
    url_col: str = "url",
    min_urls: int = 100,
    ratio: float = 10.0,
) -> DataFrame:
    """Per-host crawler-trap diagnostic (the URL-space-explosion
    signal crawlers budget against — Heydon & Najork's Mercator
    [WWW 1999] traps; IRLbot's per-host budgeting [WWW 2008]):
    collapse every URL to its SKELETON — path with digit runs
    replaced by 'N' plus the sorted set of query-parameter NAMES
    (values dropped) — so calendar pages, session ids, cursors and
    pagination all fold into one skeleton while genuinely distinct
    content keeps distinct skeletons. A host minting many URLs from
    few skeletons is a trap candidate.

    Returns (host, n_urls, n_skeletons, urls_per_skeleton, trap) with
    ``trap`` = n_urls >= min_urls AND n_urls >= ratio * n_skeletons.

    Plan: pure-codegen regex/HOF skeletonization, then ONE hash
    aggregation per host with two count-distincts (Expand doubles the
    exploded rows — the price of exact distincts in one pass; swap in
    approx_count_distinct at 10^12 rows if ±2% is acceptable).
    Map-side partials absorb the mega-host skew.
    """
    u = F.col(url_col)
    nf = F.regexp_replace(u, "#.*$", "")
    host = F.lower(
        F.regexp_extract(nf, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/:?]+)", 1)
    )
    path = F.regexp_extract(
        nf, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?]+([^?]*)", 1
    )
    pathn = F.regexp_replace(path, "[0-9]+", "N")
    query = F.regexp_extract(nf, r"\?(.*)$", 1)
    names = F.when(query == "", F.lit("")).otherwise(
        F.array_join(
            F.array_sort(
                F.transform(
                    F.split(query, "&"),
                    lambda p: F.substring_index(p, "=", 1),
                )
            ),
            ",",
        )
    )
    skel = F.concat(pathn, F.lit("?"), names)
    return (
        df.select(host.alias("host"), u.alias("__url"), skel.alias("__skel"))
        .groupBy("host")
        .agg(
            F.countDistinct("__url").alias("n_urls"),
            F.countDistinct("__skel").alias("n_skeletons"),
        )
        .select(
            "host",
            "n_urls",
            "n_skeletons",
            F.round(F.col("n_urls") / F.col("n_skeletons"), 6).alias(
                "urls_per_skeleton"
            ),
            (
                (F.col("n_urls") >= min_urls)
                & (F.col("n_urls") >= ratio * F.col("n_skeletons"))
            ).alias("trap"),
        )
    )


def link_reciprocity(edges: DataFrame) -> DataFrame:
    """Per-node reciprocal-link ratio (Davison, 'Recognizing
    nepotistic links on the Web', AAAI 2000): the fraction of a
    node's distinct outlinks whose REVERSE edge also exists.
    Link-exchange farms approach 1.0; organic linking stays low —
    the classic cheap spam feature next to TrustRank.

    Self-loops are excluded (trivially reciprocal). Returns
    (node, out_deg, n_reciprocal, reciprocity) for every node with at
    least one non-loop outlink.

    Plan: distinct edge set, LEFT self-join against the swapped-key
    projection — both sides shuffle on the same (src, dst) composite,
    so it is one co-partitioned exchange pair, no broadcast needed at
    any scale — then a map-side-combining count/sum agg per src.
    """
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = e.select(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        F.lit(True).alias("__recip"),
    )
    return (
        e.join(rev, ["src", "dst"], "left")
        .groupBy("src")
        .agg(
            F.count("*").alias("out_deg"),
            F.coalesce(
                F.sum(F.when(F.col("__recip"), 1)), F.lit(0)
            ).alias("n_reciprocal"),
        )
        .select(
            F.col("src").alias("node"),
            "out_deg",
            "n_reciprocal",
            F.round(
                F.col("n_reciprocal") / F.col("out_deg"), 6
            ).alias("reciprocity"),
        )
    )


def trust_rank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    tol: float | None = None,
) -> DataFrame:
    """TrustRank (Gyongyi, Garcia-Molina & Pedersen, VLDB 2004):
    biased PageRank whose teleport mass lands ONLY on a hand-vetted
    seed set — the classic web-spam demotion signal. rank =
    (1-d)*t(node) + d * Σ rank(in)/deg(in), with t = 1/|S| for seed
    nodes and 0 elsewhere; r0 = t (trust starts at the seeds and
    diffuses along outlinks, so pages unreachable from any seed decay
    to 0 — unlike uniform-teleport PageRank, where every node keeps a
    (1-d)/N floor).

    ``seeds`` is one node id per row (a curated whitelist — hundreds
    to low thousands in practice); ids absent from the graph are
    dropped before |S| is counted, so the teleport vector always sums
    to 1 over live nodes.

    Same per-iteration scale shape as :func:`page_rank` — ONE
    rank-vs-degree-annotated-edge equi-join + one map-side-combining
    sum. Dangling mass is not redistributed (same documented deviation
    as :func:`page_rank`; the oracle unrolls the identical formulation).

    Unlike :func:`page_rank` (whose uniform teleport pays EVERY node
    a per-iteration floor), the trust vector is nonzero only on
    nodes reachable from the seed set, so the loop keeps its state
    SPARSE: r0 is the seed rows alone, and each iteration rebuilds
    only {seeds} ∪ {contribution receivers} — zero-rank nodes
    contribute exactly 0.0/deg = +0.0 to every sum, so dropping them
    is value-identical (all addends are non-negative; adding +0.0
    never changes an IEEE sum). Seeds that receive no contributions
    stay present via a union of |S| zero rows folded into the SAME
    keyed aggregation (+0.0 addends, exact), and the teleport base
    lands via a broadcast join of the curated seed list (hundreds to
    low thousands of rows — never a node-frame shuffle). Zero-rank
    nodes re-enter once, at the final output fold (full node frame
    LEFT JOIN state, coalesce 0.0). On a graph where trust reaches
    few nodes the per-iteration frames collapse to the reachable
    set; in the worst case (everything reachable) the shape equals
    the dense loop minus its per-iteration node-frame fold.

    ``tol``: optional convergence stop (see :func:`_iterate`) on the
    L1 delta of the SPARSE trust vectors: a full-outer join on node,
    absent rows counted as 0.0 — exactly the value the final output
    fold gives them. ``tol=0.0`` therefore stops only when the vectors
    are value-identical including membership-as-zero, and the output
    equals the fixed-count run (the oracle, which unrolls all
    ``iterations`` CTEs, gates that).
    """
    nodes = _node_frame(edges)
    seeds_in = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .join(nodes, "node")
        .withColumn("__seed", F.lit(True))
        .persist()
    )
    n_seeds = seeds_in.count()
    if n_seeds == 0:
        nodes.unpersist()
        seeds_in.unpersist()
        raise ValueError("trust_rank: no seed id appears in the graph")
    t_val = 1.0 / n_seeds
    base_val = (1.0 - damping) * t_val
    out_deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    ed = edges.join(out_deg, "src").persist()
    seed_zero = seeds_in.select("node", F.lit(0.0).alias("c"))

    def step(ranks: DataFrame, it: int) -> DataFrame:
        contribs = ed.join(ranks, ed["src"] == ranks["node"]).select(
            F.col("dst").alias("node"),
            (F.col("rank") / F.col("deg")).alias("c"),
        )
        sums = (
            contribs.unionByName(seed_zero)
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        return sums.join(
            F.broadcast(seeds_in.select("node", "__seed")), "node", "left"
        ).select(
            "node",
            (
                F.when(F.col("__seed"), F.lit(base_val)).otherwise(F.lit(0.0))
                + F.lit(damping) * F.col("s")
            ).alias("rank"),
        )

    def delta(a: DataFrame, b: DataFrame) -> float | None:
        return (
            a.select("node", F.col("rank").alias("__ra"))
            .join(b.select("node", F.col("rank").alias("__rb")), "node", "full_outer")
            .agg(
                F.sum(
                    F.abs(
                        F.coalesce(F.col("__ra"), F.lit(0.0))
                        - F.coalesce(F.col("__rb"), F.lit(0.0))
                    )
                )
            )
            .collect()[0][0]
        )

    def fold(ranks: DataFrame) -> DataFrame:
        return nodes.join(ranks, "node", "left").select(
            "node", F.coalesce(F.col("rank"), F.lit(0.0)).alias("rank")
        )

    return _iterate(
        seeds_in.select("node", F.lit(t_val).alias("rank")),
        step,
        iterations,
        every=2,
        tol=tol,
        delta=delta,
        finish=fold,
        cached=(nodes, seeds_in, ed),
    )


def host_boilerplate_strip(
    df: DataFrame,
    id_col: str,
    host_col: str,
    text_col: str = "text",
    min_pages: int = 3,
    line_sep: str = "\n",
) -> DataFrame:
    """Strip SITE-TEMPLATE lines: a line that appears on at least
    ``min_pages`` distinct pages of the SAME host is boilerplate
    (navigation, footer, cookie banner) and is removed from every page
    of that host. The host-scoped counterpart of C4's corpus-wide
    :func:`line_dedup` — template text is per-site, so scoping the
    frequency count to the host catches menus that a corpus-wide
    first-occurrence rule would keep on their first page, while
    leaving legitimate cross-site duplicates (licenses, quotes) alone.
    (Template detection per Gibson, Punera & Tomkins, WWW 2005; the
    frequency-threshold rule is the standard production form.)

    Returns (id, text) with each page reassembled from its surviving
    lines in original order; pages whose every line was template are
    ABSENT (no surviving rows → no group), same convention as
    :func:`line_dedup`.

    Plan: explode lines with position → count-distinct-pages hash
    aggregation per (host, line) → join the template lines back on
    (host, line) → per-page re-aggregation. The frequency agg is the
    skew defence: a footer repeated on millions of pages partial-
    aggregates map-side (two-phase distinct agg keyed on
    (host, line, id) then (host, line)), never concentrating raw rows
    on one reducer; the join-back key (host, line) is bounded by
    distinct lines per host.
    """
    lines = df.select(
        F.col(id_col).alias("id"),
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(text_col), line_sep)).alias(
            "line_no", "line"
        ),
    ).filter(F.trim("line") != "")
    boiler = (
        lines.groupBy("host", "line")
        .agg(F.countDistinct("id").alias("n_pages"))
        .filter(F.col("n_pages") >= min_pages)
        .select("host", "line", F.lit(True).alias("__boiler"))
    )
    kept = lines.join(boiler, ["host", "line"], "left").filter(
        F.col("__boiler").isNull()
    )
    return kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                lambda x: x["line"],
            ),
            line_sep,
        ).alias("text")
    )


def blocklist_filter(
    pages: DataFrame,
    blocked: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
    flag_col: str = "blocked",
    suffixes: frozenset[str] | set[str] = _PSL_LITE,
) -> DataFrame:
    """Flag pages whose REGISTERED domain is on a blocklist (the
    UT1/URL-category-ban stage every production crawl runs before
    training-data export). ``blocked`` is one registered domain per
    row — thousands to low millions of rows — so the join broadcasts;
    the pages side never shuffles. Matching on eTLD+1 (not host)
    makes the common evasion (porn.example.com vs example.com) a
    non-issue, exactly like the per-site cap keying.

    Returns pages + a boolean ``flag_col`` (true = blocked); callers
    filter or route. Keeping the flag instead of dropping rows lets
    one pass feed both the clean export AND the blocked-rate
    monitoring rollup without a second scan.
    """
    dim = (
        blocked.select(F.col(domain_col).alias("__bl_domain"))
        .distinct()
        .withColumn("__bl_hit", F.lit(True))
    )
    keyed = pages.withColumn(
        "__reg_domain", registered_domain_col(url_col, suffixes)
    )
    out = keyed.join(
        F.broadcast(dim),
        keyed["__reg_domain"] == dim["__bl_domain"],
        "left",
    )
    return out.select(
        *pages.columns,
        F.coalesce(F.col("__bl_hit"), F.lit(False)).alias(flag_col),
    )


def token_budget_sample(
    df: DataFrame,
    budgets: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    tokens_col_name: str = "n_tokens",
) -> DataFrame:
    """Select documents per source up to a TOKEN budget — the mixing
    step that turns per-source weights into an actual training set
    (Pile/Dolma-style: "200B tokens of web, 30B of code, ..."). Rows
    from sources absent from ``budgets`` are dropped.

    Deterministic md5-of-id order per source, keep while the running
    token sum stays within budget — reproducible across engines (the
    oracle replays the ranking) and runs/reruns. The window sorts each
    source's rows in one task; with a handful of sources and 10^12
    rows that single reducer is the bottleneck.
    """
    items = sorted(budgets.items())
    bmap = F.create_map(
        *[F.lit(x) for kv in items for x in kv]
    )
    budgeted = df.withColumn("__budget", bmap[F.col(source_col)]).where(
        F.col("__budget").isNotNull()
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy(source_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        budgeted.withColumn("__cum", F.sum(tokens_col_name).over(w))
        .where(F.col("__cum") <= F.col("__budget"))
        .drop("__budget", "__cum")
    )


# ------------------------------------------------------------ templates


def template_fp_col(html: Column) -> Column:
    """Structural fingerprint of an HTML document: the portable Horner
    fold over the SEQUENCE of element names (both open and close tags,
    attributes and text ignored). Two pages rendered from the same
    template hash identically however much their copy differs — the
    boilerplate-template grouping signal (cf. Gibson, Punera & Tomkins
    2005, "The volume and evolution of web page templates", WWW).
    Order-sensitive: <div><p> != <p><div>. Pure regexp + HOFs — zero
    shuffle, zero UDF, and a DuckDB oracle replays it bit-for-bit."""
    from docling_eval_spark.operators.text_analysis import (
        horner_fold,
        portable_char_hash,
    )

    tags = F.regexp_extract_all(
        F.lower(html), F.lit(r"</?([a-z][a-z0-9]*)"), F.lit(1)
    )
    # single-arg lambda is load-bearing: passing portable_char_hash
    # directly would bind its optional `mod` parameter as F.transform's
    # element INDEX (pmod by 0 on the first tag)
    return horner_fold(F.transform(tags, lambda t: portable_char_hash(t)))


def template_rollup(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """Template census: ``(template_fp, n_pages, sample_url)`` — how
    many pages share each structural fingerprint, with a deterministic
    example per template (min url). ONE bounded-key hash agg (keys =
    distinct templates, map-side combine absorbs the hot ones); a 10^9
    -page host collapses to one row per template before the exchange."""
    return (
        df.select(
            template_fp_col(F.col(html_col)).alias("template_fp"),
            F.col(url_col),
        )
        .groupBy("template_fp")
        .agg(
            F.count("*").alias("n_pages"),
            F.min(url_col).alias("sample_url"),
        )
    )


def hits(
    edges: DataFrame,
    iterations: int = 4,
) -> DataFrame:
    """Fixed-iteration HITS hubs/authorities (Kleinberg 1999, public)
    over (src, dst) edges — PageRank's companion crawl-quality signal:
    hubs are pages linking to many good authorities, authorities are
    pages linked from many good hubs. Returns (node, hub, auth) for
    every node on either edge side, each vector scaled to max 1.

    Iteration k: auth_k(v) = Σ_{u→v} hub_{k-1}(u), then
    hub_k(u) = Σ_{u→v} auth_k(v) — the standard alternating update;
    parallel edges contribute their multiplicity (A^T A on the
    multigraph, matching the adjacency-matrix form).

    There is no per-iteration scaling: all intermediate scores stay
    INTEGER-valued doubles (init 1, integer sums — exact and
    order-independent below 2^53), and the single final division by
    each vector's max is one float op per node on identical operands
    in any engine, so the DuckDB oracle matches bit-for-bit BEFORE
    rounding. Scores grow ~ (mean in-deg × mean out-deg)^k; keep k
    small or degrees bounded (4 iterations on a 10^8-edge web graph
    with celebrity nodes of degree 10^6 can exceed 2^53).

    Scale shape per iteration: TWO keyed equi-joins (edges⋈hubs on
    src, edges⋈auths on dst) + two map-side-combining sums — same
    shape family as :func:`page_rank`, no collect, no driver state.
    The loop state is the UNSCALED authority vector auth_k: hub_k and
    the scaled auth_k both derive from it, so one frame carries the
    whole iteration (hub_0 = 1 is the first step's input).

    The loop keeps its state SPARSE: after the first update, hubs
    holds only nodes with >=1 out-edge and auths only nodes with >=1
    in-edge — exactly the rows the loop's inner joins (keyed on edge
    endpoints) can ever touch, so unlike :func:`page_rank` (whose
    teleport term pays every node a floor each iteration) no
    per-iteration fold back onto the full node frame is needed: a
    node absent from the sparse frame has score exactly 0 and
    contributes exactly 0.0 to every downstream sum (scores are
    nonnegative, so no -0.0 edge). Zero-score nodes re-enter once, at
    the final output fold (nodes LEFT JOIN state, coalesce 0.0) —
    value-identical to folding every iteration, measured ~25% faster
    on the 600 k-edge bench graph (two node-frame joins per iteration
    removed)."""
    nodes = _node_frame(edges)
    ed = edges.select("src", "dst").persist()
    hubs0 = nodes.withColumn("hub", F.lit(1.0))

    def hubs_of(auths: DataFrame) -> DataFrame:
        return (
            ed.join(auths, ed["dst"] == auths["node"])
            .groupBy("src")
            .agg(F.sum("auth").alias("hub"))
            .withColumnRenamed("src", "node")
        )

    def step(auths: DataFrame, it: int) -> DataFrame:
        hubs = hubs0 if it == 1 else hubs_of(auths)
        return (
            ed.join(hubs, ed["src"] == hubs["node"])
            .groupBy("dst")
            .agg(F.sum("hub").alias("auth"))
            .withColumnRenamed("dst", "node")
        )

    def fold(auths: DataFrame) -> DataFrame:
        hubs = hubs_of(auths) if iterations else hubs0
        # max over the sparse frame equals max over the zero-filled full
        # frame: every sparse score is > 0 by induction (integer sums
        # >= 1 over nonempty in/out-edge sets), so the fold's 0.0 rows can
        # never be the max; an all-zero vector only happens with zero
        # edges, where both frames are empty either way
        maxes = hubs.agg(F.max("hub").alias("mh")).crossJoin(
            auths.agg(F.max("auth").alias("ma"))
        )
        return (
            nodes.join(hubs, "node", "left")
            .join(auths, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
                F.coalesce(F.col("auth"), F.lit(0.0)).alias("auth"),
            )
            .crossJoin(F.broadcast(maxes))
            .select(
                "node",
                F.when(F.col("mh") > 0, F.col("hub") / F.col("mh"))
                .otherwise(F.lit(0.0))
                .alias("hub"),
                F.when(F.col("ma") > 0, F.col("auth") / F.col("ma"))
                .otherwise(F.lit(0.0))
                .alias("auth"),
            )
        )

    # the empty sparse frame = "every auth is 0" (read only when
    # iterations == 0)
    auths = ed.select(F.col("dst").alias("node"), F.lit(0.0).alias("auth")).limit(0)
    return _iterate(
        auths,
        step,
        iterations,
        every=2,
        finish=fold,
        pin_state=True,
        cached=(nodes, ed),
    )


def temperature_mix_sample(
    df: DataFrame,
    key_col: str,
    id_col: str,
    budget: int,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-scaled domain mixing (the multilingual/domain
    rebalancing rule of XLM, Conneau & Lample 2019, public): sample
    domain ``d`` at a rate ∝ p_d^alpha / p_d, flattening the domain
    distribution so head domains are downsampled and tail domains
    kept — expected output size = ``budget`` rows. Unlike
    :func:`stratified_sample` the per-domain rates are COMPUTED from
    the observed counts, not supplied.

    Fully deterministic and integer-exact: with s_d =
    round(n_d^alpha · 1e6) quantized ONCE per domain (for the default
    alpha = 0.5 the pow is an IEEE sqrt — bit-exact in every engine)
    and S = Σ s_d (BIGINT), a row survives iff

        h(id) · S · n_d  <  M · budget · s_d

    — the cross-multiplied form of h/M < budget·q_d/n_d with
    q_d = s_d/S, evaluated in DECIMAL(38,0)/int128 so there is NO
    division, NO float comparison, and no overflow below ~10^38
    (h·S·n_d ≈ 10^35 even at 10^12 docs/domain); rates ≥ 1 keep every
    row automatically since h < M always. h is the md5-Horner uniform
    shared with ``stratified_sample``.

    Scale shape: one count agg over the key (domains are bounded),
    the ≤|domains|-row rate table broadcasts back, and selection is a
    pure filter — zero corpus shuffle."""
    from docling_eval_spark.operators.text_analysis import _FP_BASE, _FP_MOD

    counts = df.groupBy(F.col(key_col).alias("__k")).agg(
        F.count("*").alias("__n")
    )
    # alpha = 0.5 routes through IEEE-754 sqrt (correctly rounded by
    # the standard, so bit-exact in every engine); pow() only promises
    # 1-ulp accuracy and may differ between libm implementations
    powed = (
        F.sqrt(F.col("__n").cast("double"))
        if alpha == 0.5
        else F.pow(F.col("__n").cast("double"), F.lit(float(alpha)))
    )
    s_d = F.round(powed * 1e6).cast("long").alias("__s")
    sized = counts.select("__k", "__n", s_d)
    tot = sized.agg(F.sum("__s").alias("__stot"))
    dec = "decimal(38,0)"
    rates = sized.crossJoin(F.broadcast(tot)).select(
        "__k",
        (F.col("__stot").cast(dec) * F.col("__n").cast(dec)).alias("__den"),
        (
            F.lit(int(_FP_MOD)).cast(dec)
            * F.lit(int(budget)).cast(dec)
            * F.col("__s").cast(dec)
        ).alias("__num"),
    )
    h = F.aggregate(
        F.split(F.md5(F.col(id_col).cast("string")), ""),
        F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(acc * _FP_BASE + F.ascii(ch), F.lit(_FP_MOD)),
    )
    out = (
        df.withColumn("__h", h)
        .join(F.broadcast(rates), F.col(key_col) == F.col("__k"))
        .filter(F.col("__h").cast(dec) * F.col("__den") < F.col("__num"))
    )
    return out.drop("__k", "__h", "__den", "__num")


def crawl_depth(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    max_hops: int = 6,
) -> DataFrame:
    """BFS depth from a seed set over the directed link graph —
    the crawl-scheduling counterpart of :func:`page_rank` (frontier
    prioritization by distance from trusted seeds, cf. the seed-set
    discipline of TrustRank): (node, depth) where depth = length of
    the shortest path from ANY seed, computed by ``max_hops`` rounds
    of min-distance propagation. Nodes unreachable within
    ``max_hops`` are ABSENT from the result (a crawl budget never
    schedules them).

    Scale shape per round — identical to :func:`connected_components`:
    ONE equi-join of the current FRONTIER against the edge list + ONE
    map-side-combining min aggregation; no collect, no driver state.
    min is idempotent, so duplicate edges cost nothing and
    already-settled nodes never regress (depth can only stay or
    shrink).

    Frontier discipline (textbook BFS, value-identical to joining the
    full distance frame): with unit weights a node's depth is FINAL
    the round it first appears, so only nodes settled in the previous
    round (depth == round−1 — a free filter on the checkpointed
    frame, no extra join or action) can supply a new minimum; a node
    settled earlier at depth j already delivered j+1 to its
    neighbors in round j+1, making any later contribution from it
    redundant under min. Total join volume drops from
    Σ_k |reached_k| (re-probing every settled node every round) to
    |reached| (each node's out-edges probed exactly once).
    """
    # pinned pre-partitioned by the join key: every hop joins the
    # frontier on e.a, so an unpartitioned cache re-shuffles the full
    # edge frame once per hop; partitioned, only the slim frontier
    # moves. Value-safe without caveats: depths are integers under a
    # min-agg (order-independent).
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .repartition("a")
        .persist()
    )

    def step(dist: DataFrame, hop: int) -> DataFrame:
        frontier = dist.filter(F.col("depth") == F.lit(hop - 1))
        contrib = e.join(frontier, e["a"] == frontier["node"]).select(
            F.col("b").alias("node"),
            (F.col("depth") + F.lit(1)).cast("bigint").alias("depth"),
        )
        return (
            contrib.unionByName(dist.select("node", "depth"))
            .groupBy("node")
            .agg(F.min("depth").alias("depth"))
        )

    dist = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("depth", F.lit(0).cast("bigint"))
    )
    return _iterate(dist, step, max_hops, every=1, cached=(e,))


def weighted_sample_topk(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis–
    Spirakis (2006) one-pass reservoir keys — the standard way to
    draw a quality-weighted corpus subsample in a single distributed
    pass: each row gets key = u^(1/w) for u ~ U(0,1) and the k
    largest keys are exactly a weight-proportional sample without
    replacement.

    Determinism: u is a portable affine hash of the id —
    ``((id·1000003 + 12345) mod (2³¹−1) + 1) / 2³¹`` — so u is an
    EXACT double (denominator a power of two), retried tasks redraw
    identically, and any engine replays the draw. Keys are compared
    as ln(u)/w quantized to integer micros (monotone in u^(1/w));
    ties break on id.

    Scale shape: zero-shuffle scoring + a global top-k that Spark
    executes as TakeOrderedAndProject (per-partition heap + driver
    merge of k rows — never a full sort). Non-positive weights are
    excluded (zero weight means "never sample").
    """
    h = F.pmod(
        F.col(id_col).cast("long") * F.lit(1_000_003) + F.lit(12_345),
        F.lit(2_147_483_647),
    )
    u = (h + 1).cast("double") / F.lit(2_147_483_648.0)
    key = F.round(F.log(u) / F.col(weight_col).cast("double") * 1_000_000.0)
    scored = (
        df.filter(F.col(weight_col) > 0)
        .withColumn("es_key_micro", key.cast("bigint"))
    )
    return scored.orderBy(
        F.col("es_key_micro").desc(), F.col(id_col).asc()
    ).limit(k)


def rendezvous_assign(
    df: DataFrame,
    key_col: str,
    shards: list[str],
) -> DataFrame:
    """Rendezvous (highest-random-weight, Thaler & Ravishankar 1998)
    shard assignment: shard(key) = argmax over shards of
    hash(key ‖ shard). Unlike modulo sharding, GROWING the shard list
    relocates only the keys whose argmax IS the new shard (≈1/n of
    them) — the property that makes epoch re-sharding and cache
    topology changes cheap at corpus scale (regression-tested).

    Hashing is the SQUARE (mod 2³¹−1) of the repo's portable
    char-level Horner fold over ``shard || '|' || key``. The square
    is load-bearing: a raw Horner fold is AFFINE in any single-char
    difference — for same-length keys the 8 shard scores differ by a
    constant, so one shard wins every key of that length (found live
    by the balance test; the same affinity `training.mlm_mask`
    squares away). Squaring makes the per-shard difference
    2·c·h + c² — dependent on the key's own fold h — and the scores
    decorrelate. Argmax ties break lexicographically on shard name
    via struct max. Pure per-row column algebra: zero shuffle, zero
    Python, the shard list rides as an array literal.
    """
    from docling_eval_spark.operators.text_analysis import portable_char_hash

    key = F.col(key_col).cast("string")

    def score(s: F.Column) -> F.Column:
        h = portable_char_hash(F.concat(s, F.lit("|"), key))
        return F.pmod(h * h, F.lit(2_147_483_647))

    scored = F.transform(
        F.array(*[F.lit(s) for s in sorted(shards)]),
        lambda s: F.struct(score(s).alias("score"), s.alias("shard")),
    )
    best = F.array_max(scored)
    return df.withColumn("shard", best["shard"])
