"""Spark bindings for the normalization kernel.

Two tiers, chosen per the 100-TB rule "stay JVM-side":

1. **Column-expression builders** (`*_col`) — pure pyspark.sql.functions
   compositions that run inside whole-stage codegen. Used whenever Spark
   built-ins can express the reference semantics exactly (fragment strip,
   extension extraction, media-extension gate, link regex findall, lenient
   numeric casts...).
2. **Arrow-batched pandas UDFs** — only where no builtin exists
   (urljoin-based canonicalization, entity unescape, registrable-domain
   suffix trim, xpath caption extraction). Never row-at-a-time `F.udf`.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webscraping_spark.functions import htmlpath
from webscraping_spark.functions.extract import extract_emails, extract_phones
from webscraping_spark.functions.textkernel import normalize as _normalize_text
from webscraping_spark.functions.urlnorm import (
    MEDIA_EXTENSIONS,
    canonicalize_url_series,
    get_domain_series,
    unescape_series,
)

# --------------------------------------------------------------------------
# Tier 1: JVM-side column expressions (whole-stage codegen, zero Python)
# --------------------------------------------------------------------------


def strip_fragment_col(url: Column) -> Column:
    """Drop the #fragment (first half of CrawlerCallback.normalize,
    download.py:998) — JVM-side prefilter before the canonicalize UDF."""
    return F.regexp_replace(url, "#.*$", "")


def get_extension_col(url: Column) -> Column:
    """Lowercased path extension (common.py:397-405) as an expression.

    ``parse_url(url, 'PATH')`` handles absolute URLs; schemeless inputs fall
    back to stripping query/fragment manually.
    """
    path = F.when(
        url.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://"), F.parse_url(url, F.lit("PATH"))
    ).otherwise(F.regexp_replace(url, "[?#].*$", ""))
    base = F.element_at(F.split(path, "/"), -1)
    return F.when(
        base.contains("."), F.lower(F.regexp_replace(F.regexp_extract(base, r"\.([^.]*)$", 0), r"\.", ""))
    ).otherwise(F.lit(""))


def is_media_link_col(url: Column) -> Column:
    """Media-extension gate (download.py:1016; common.py:45)."""
    return get_extension_col(url).isin(list(MEDIA_EXTENSIONS))


def is_http_col(url: Column) -> Column:
    """'proper HTTP link' check (download.py:1018)."""
    return F.lower(url).startswith("http")


def find_links_col(html: Column) -> Column:
    """``<a href>`` findall (download.py:1033-1034) as a JVM regex —
    returns ARRAY<STRING> of raw hrefs in document order."""
    return F.regexp_extract_all(html, F.lit("(?i)<a[^>]+href=[\"'](.*?)[\"']"), F.lit(1))


def to_float_col(s: Column) -> Column:
    """Lenient numeric parse keeping [0-9.-] chars (common.py:72-97)."""
    cleaned = F.regexp_replace(s, "[^0-9.-]", "")
    return F.coalesce(cleaned.cast("double"), F.lit(0.0))


def to_int_col(s: Column) -> Column:
    return to_float_col(s).cast("long")


def to_ascii_col(s: Column) -> Column:
    return F.regexp_replace(s, "[^\\x00-\\x7F]", "")


def get_domain_col(url: Column) -> Column:
    """Registrable domain (common.py:408-429) as a pure JVM expression —
    the hot-path twin of ``get_domain_udf`` (which stays as the parity
    oracle; tests assert equality).

    Logic: IP literals pass through; otherwise lowercase host, split on
    '.', and keep labels from the LAST non-suffix label onward (the
    reference's forward walk that resets `domain` at each non-suffix
    label is equivalent).
    """
    from webscraping_spark.functions.urlnorm import _DOMAIN_SUFFIXES, trie_regex

    ip = F.regexp_extract(url, r"^.*://(\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3})", 1)
    # host = everything after the LAST '://' up to the first '/' — byte
    # scans (substring_index), replacing the former greedy-regex
    # regexp_replace('^.*://') + split + element_at, which backtracked
    # per row. substring_index(url,'://',-1) returns the whole string
    # when '://' is absent, exactly like the no-match regexp_replace.
    host = F.lower(
        F.substring_index(F.substring_index(url, "://", -1), "/", 1)
    )
    # Membership tests compile the suffix set as a TRIE regex, not a flat
    # 280-way alternation: Java's Pattern tries alternation branches
    # sequentially (~280 probes per label), the trie walks one path in
    # O(label length). Measured r6: domain extraction was ~11.5 s of the
    # 30.6 s fused 16M-row pipeline with the flat pattern.
    suf = trie_regex(_DOMAIN_SUFFIXES)
    # Fast path — ONE regex pass, zero array allocations. The registrable
    # domain is the tail of the host that starts at the LAST non-suffix
    # label: equivalently, the leftmost label-boundary tail whose first
    # label is NOT a suffix and whose remaining labels are ALL suffixes.
    # regexp_extract's leftmost-match search finds exactly that tail; no
    # match (all labels are suffixes, or empty host) falls back to the
    # whole host — the same fallback as the label walk's start=1.
    # Equivalence to the walk holds for every host with non-empty labels;
    # hosts with EMPTY labels (leading/trailing/doubled dots — '[^.]+'
    # cannot match an empty label) are routed to the exact label-walk
    # below. Parity with get_domain_udf and urlnorm.get_domain is
    # fuzz-tested in tests/test_udfs.py::test_get_domain_fuzz_parity.
    tail_pat = rf"(?:^|\.)((?!(?:{suf})(?:\.|$))[^.]+(?:\.(?:{suf}))*)$"
    fast = F.regexp_extract(host, tail_pat, 1)
    irregular = (
        host.startswith(".") | host.endswith(".") | host.contains("..")
    )
    # Exact label walk (the original formulation, trie-compiled) — only
    # evaluated for irregular hosts.
    labels = F.split(host, "\\.")
    suffix_pattern = f"^(?:{suf})$"
    idxs = F.sequence(F.lit(1), F.size(labels))
    non_suffix = F.filter(
        idxs, lambda i: ~F.element_at(labels, i).rlike(suffix_pattern)
    )
    # try_element_at: an all-suffix host (e.g. pa.com — 'pa' is a ccTLD)
    # leaves non_suffix EMPTY, and ANSI element_at(-1) throws on empty
    # arrays; NULL falls back to start=1 = keep the whole host, which is
    # what the kernel's forward walk returns for that case
    start = F.coalesce(F.try_element_at(non_suffix, F.lit(-1)), F.lit(1))
    walk = F.array_join(
        F.slice(labels, start, F.size(labels) - start + 1), "."
    )
    domain = F.when(irregular, walk).otherwise(
        F.when(fast == "", host).otherwise(fast)
    )
    return F.when(ip != "", ip).otherwise(domain)


def clean_link_predicate(link: Column) -> Column:
    """True when ``link`` is provably a fixpoint of
    CrawlerCallback.normalize: absolute http(s), no fragment, no percent
    escape, no HTML entity, no '/..' segment, ASCII-only. For such links
    canonicalize_url(base, link) == link for any base."""
    # Regex-free in the common case: rlike costs ~1-8 us/row
    # (UTF8String->String + matcher alloc + backtracking scan) while
    # contains/startswith/endswith/octet_length are plain byte scans, and
    # boolean short-circuiting defeats codegen CSE — so every regex hides
    # behind a scan precheck that is false for typical links.
    # Excluded shapes: percent/entity escapes, '#' (fragments), dot-dot
    # segments, non-ASCII (octet_length == char length iff pure ASCII in
    # UTF-8), bare trailing '?' (urljoin drops an empty query — not a
    # fixpoint).
    entityish = link.contains("&") & link.contains(";") & link.rlike(r"&#?\w+;")
    return (
        (link.startswith("http://") | link.startswith("https://"))
        & ~link.contains("%")
        & ~link.contains("#")
        & ~link.contains("/..")
        & ~link.endswith("?")
        & (F.octet_length(link) == F.length(link))
        & ~entityish
    )


_MAX_JVM_DOTDOT = 4  # deeper ../ nesting falls through to the Python kernel
# (each level is one more regexp_replace pass over EVERY dotted row;
# real-world chains beyond 4 are vanishingly rare — they stay correct via
# the kernel, they just don't get the JVM fast path)


def base_root_col(base: Column) -> Column:
    """scheme://host of an http(s) base — byte scan, no regex
    (substring_index keeps everything before the 3rd '/'; a base without
    a path has fewer than 3 slashes and passes through whole)."""
    return F.substring_index(base, "/", 3)


def base_sans_file_col(base: Column) -> Column:
    """base with its trailing file component stripped (RFC 3986 merge
    target) — byte scans only."""
    file_len = F.length(F.substring_index(base, "/", -1))
    return base.substr(F.lit(1), F.length(base) - file_len)


def resolve_relative_col(base: Column, rel_path: Column, rel_query: Column) -> Column:
    """urljoin(base, rel) for an eligible relative reference — RFC 3986
    merge + remove_dot_segments exactly as Python's urljoin applies them
    for this input class (ASCII, no scheme, no '//' empty segments,
    ≤ _MAX_JVM_DOTDOT '..' segments; eligibility is the caller's gate,
    parity is test-enforced against the kernel). Root-relative paths
    ('/x') replace the base path wholesale. The dot-segment collapse
    operates on a path-only string (no authority in scope), so the
    regexes cannot eat into the host."""
    base_root = base_root_col(base)
    merged = base_sans_file_col(base)
    p = F.when(
        rel_path.startswith("/"), rel_path
    ).otherwise(F.concat(merged.substr(F.length(base_root) + 1, F.length(merged)), rel_path))
    # a trailing bare '.'/'..' segment acts like './'/'../' (RFC 5.2.4
    # output keeps the directory slash): append '/' so only the infix
    # rules remain
    p = F.when(p.endswith(".") & p.rlike(r"(^|/)\.\.?$"), F.concat(p, F.lit("/"))).otherwise(p)
    # drop '/./' runs in one pass
    p = F.regexp_replace(p, r"(/\.)+/", "/")
    # collapse 'segment/../' innermost-first; each pass handles one
    # nesting level (and every non-nested pair), bounded by the gate
    for _ in range(_MAX_JVM_DOTDOT):
        p = F.regexp_replace(p, r"/(?!\.\./)[^/]+/\.\./", "/")
    # excess leading '..' clamp at root (urljoin drops them)
    p = F.regexp_replace(p, r"^(/\.\.)+/", "/")
    return F.concat(base_root, p, rel_query)


def canonicalize_split(df, base_col: str, link_col: str, out_col: str, compact: bool = False):
    """Tiered canonicalization.

    Tiers:
      tier 0  clean absolute links: provable normalize fixpoints — project
              as-is (pure JVM).
      tier R  relative links against a clean base: after JVM-side fragment
              strip and ``&amp;`` decode, an ASCII link with no percent
              escape / entity / scheme / authority resolves as RFC 3986
              merge + dot-segment removal — pure JVM regex
              (``resolve_relative_col``), including ``../`` chains up to
              ``_MAX_JVM_DOTDOT`` deep. Links with ``//`` empty segments
              are EXCLUDED (urljoin collapses them — kernel's job), as are
              bases whose own dir path has ``//`` or dot segments.
      tier 2  everything else: the exact pandas-UDF kernel.

    Spark's ExtractPythonUDFs rule evaluates a pandas UDF for every row
    even under a when() branch — and even NULL-gated inputs pay the full
    Arrow round-trip machinery per row (measured ~2.4 us/row/core on 4M
    all-null rows). So the split is physical, but TWO-way, not three: one
    JVM branch computes tiers 0 and R as a when() ladder (predicates
    evaluated once), and only the ``~tier0 & ~tierR`` filter reaches the
    pandas kernel. Upstream is evaluated twice; in the crawl loop that
    upstream is a bounded batch, and in the bench it is a cheap synthesized
    scan — both beat shipping every row through Arrow.

    Real frontiers are dominated by tiers 0/R (absolute, sibling-relative
    and ``../`` hrefs), so the Python kernel only sees the genuinely dirty
    tail (percent escapes, entities, non-ASCII, scheme-relative forms).
    Parity with ``canonicalize_url`` is asserted by tests on every tier
    boundary.
    """
    base = F.col(base_col)
    link = F.col(link_col)

    tier0 = clean_link_predicate(link)

    # JVM-decodable form of the link: fragment strip + &amp; -> & — both
    # REGEX-FREE (substring_index / literal replace): `decoded` is
    # re-inlined at every reference because boolean short-circuiting
    # blocks codegen CSE, so its derivation must be cheap.
    decoded = F.replace(
        F.substring_index(link, "#", 1), F.lit("&amp;"), F.lit("&")
    )
    # path/query split without regex (substring_index returns the whole
    # string when '?' is absent; substr past end returns "")
    rel_path = F.substring_index(decoded, "?", 1)
    rel_query = decoded.substr(F.length(rel_path) + 1, F.length(decoded))
    # Every regex below hides behind a byte-scan precheck that is false
    # for typical rows — see clean_link_predicate for why.
    base_after = F.substring_index(base, "://", -1)  # host[/path]
    base_has_dir = (
        (base.startswith("http://") | base.startswith("https://"))
        & ~base.contains("?")
        & ~base.contains("#")
        & base_after.contains("/")  # a path exists (dir resolvable)
        & ~base_after.startswith("/")  # non-empty host ('http:///x' is junk)
    )
    # base dir cleanliness (no base_dir materialization in the gate):
    # empty segments, '..'-prefixed segments (incl. '..d' — they trip the
    # kernel's vestigial leading-'/..' strip, download.py:1003), '.'
    # segments — all kernel's job. The trailing [^/]* of the path is the
    # FILE part (dropped by the RFC merge), so a dirty file component
    # doesn't disqualify the base: the bad shapes must be followed by a
    # further '/'. Precheck: both shapes require '//' or '/.' somewhere
    # after the scheme.
    base_dirty = (
        base_after.contains("//") | base_after.contains("/.")
    ) & base.rlike(r"^https?://[^/?#]+/[^?#]*?(//|/\.[^/]*/)")
    # link-side disqualifiers: empty, root-relative, query-only, bare
    # trailing '?' (urljoin drops it), percent escapes, '#' leftovers,
    # empty segments (urljoin collapses '//'), non-ASCII, then prechecked
    # regexes for scheme prefix (mailto:, http:), entities, and
    # '..'-prefixed segments ('...', '..d' — vestigial-strip hazard and
    # '../'-counting hazard)
    schemeish = decoded.contains(":") & decoded.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*:")
    entityish = (
        decoded.contains("&") & decoded.contains(";") & decoded.rlike(r"&#?\w+;")
    )
    dotdot_prefixed = decoded.contains("..") & decoded.rlike(r"\.\.[^/?]")
    rel_bad = (
        (decoded == "")
        | decoded.startswith("?")
        | decoded.endswith("?")
        | decoded.contains("%")
        | decoded.contains("#")
        | decoded.contains("//")  # also kills protocol-relative '//host'
        | (F.octet_length(decoded) != F.length(decoded))
        | schemeish
        | entityish
        | dotdot_prefixed
    )
    # root-relative ('/x') replaces the base PATH wholesale: the base only
    # contributes scheme://host, so its dir cleanliness doesn't matter —
    # it just needs to be a plain http(s) URL with a non-empty host
    is_root_rel = decoded.startswith("/")
    base_is_http = (
        (base.startswith("http://") | base.startswith("https://"))
        & ~base.contains("?")
        & ~base.contains("#")
        & ~base_after.startswith("/")  # non-empty host
    )
    # '.'/'..' segment presence — routes between the one-concat fast form
    # and the dot-collapse resolver (alloc-heavy work only where needed).
    # Precheck: every '.'/'..' segment shape contains './' or ends with '.'
    has_dotseg = (
        rel_path.contains("./") | rel_path.endswith(".")
    ) & rel_path.rlike(r"(^|/)\.\.?(/|$)")
    # '..'-depth bound WITHOUT per-row array allocation (a split+filter
    # count re-allocates per row and anti-scales with cores — same lesson
    # as the suffix-set regex in get_domain_col): every '..' segment
    # removed by the lookahead replace shrinks the string by >= 2 chars,
    # so (len - len') <= 2*K guarantees <= K segments. Conservative for
    # '/..'-shaped matches (3 chars) — deep-chain rarities fall to Python.
    # Evaluated ONLY for dotted rows (short-circuit OR).
    removed = F.length(rel_path) - F.length(
        F.regexp_replace(rel_path, r"(^|/)\.\.(?=/|$)", "")
    )
    tierR = (
        ~tier0
        & ~rel_bad
        & (
            (is_root_rel & base_is_http)
            | (~is_root_rel & base_has_dir & ~base_dirty)
        )
        & (~has_dotseg | (removed <= F.lit(2 * _MAX_JVM_DOTDOT)))
    )

    # NULL links route to the kernel (which maps them to "")
    jvm_side = F.coalesce(tier0 | tierR, F.lit(False))
    jvm_out = (
        F.when(tier0, link)
        .when(
            ~has_dotseg,
            # no dot segments: the RFC merge is a plain concat — onto
            # scheme://host for root-relative, onto the file-stripped
            # base for dir-relative. Byte scans only.
            F.concat(
                F.when(is_root_rel, base_root_col(base)).otherwise(
                    base_sans_file_col(base)
                ),
                decoded,
            ),
        )
        .otherwise(resolve_relative_col(base, rel_path, rel_query))
    )
    if compact:
        # SINGLE-pass form for bounded batches whose upstream is expensive
        # to re-evaluate (the crawl superstep's join+explode chain): the
        # UDF runs over every row but its inputs are NULL-gated, so JVM
        # rows cost only the Arrow transfer (~2.4 us/row/core) and the
        # kernel short-circuits them (canonicalize_url_series). Preserves
        # per-partition row order; evaluates upstream ONCE.
        udf_out = canonicalize_url_udf(
            F.when(~jvm_side, base), F.when(~jvm_side, link)
        )
        return df.withColumn(
            out_col, F.when(jvm_side, jvm_out).otherwise(udf_out)
        )
    jvm_df = df.filter(jvm_side).withColumn(out_col, jvm_out)
    py_df = df.filter(~jvm_side).withColumn(
        out_col, canonicalize_url_udf(base, link)
    )
    return jvm_df.unionByName(py_df)


def url_hash_col(url: Column) -> Column:
    """64-bit canonical-URL hash — the seen-set / partition key.

    JVM-side xxhash64 (whole-stage codegen); plays the role of the
    reference's HashDict key hash (adt.py:71-74) with far better mixing.
    """
    return F.xxhash64(url)


def clean_content_col(html: Column, max_size: int | None, force_html: bool, force_ascii: bool) -> Column:
    """_clean_content (download.py:322-342) as a when() ladder."""
    out = html
    if max_size is not None:
        out = F.when(F.length(out) > max_size, F.lit("")).otherwise(out)
    if force_html:
        out = F.when(out.rlike("html|head|body"), out).otherwise(F.lit(""))
    if force_ascii:
        out = to_ascii_col(out)
    return out


def invalid_response_col(html: Column, pattern: str | None) -> Column:
    """invalid_response (download.py:373-376) as a predicate column."""
    invalid = html.isNull()
    if pattern:
        invalid = invalid | ~html.rlike("(?is)" + pattern)
    return invalid


# --------------------------------------------------------------------------
# Tier 2: Arrow-batched pandas UDFs (the only Python in the hot path)
# --------------------------------------------------------------------------


@F.pandas_udf(T.StringType())
def canonicalize_url_udf(base: pd.Series, link: pd.Series) -> pd.Series:
    """CrawlerCallback.normalize (download.py:987-1004): urljoin has no
    Spark builtin, so this is the one mandatory Python hop per link."""
    return canonicalize_url_series(base, link)


@F.pandas_udf(T.StringType())
def get_domain_udf(url: pd.Series) -> pd.Series:
    """Registrable domain (common.py:408-429) — politeness/partition key."""
    return get_domain_series(url)


@F.pandas_udf(T.StringType())
def unescape_udf(text: pd.Series) -> pd.Series:
    return unescape_series(text)


@F.pandas_udf(T.StringType())
def normalize_text_udf(text: pd.Series) -> pd.Series:
    """remove_tags + unescape + whitespace collapse (common.py:317-334) —
    the caption-normalization kernel."""
    return pd.Series(
        [_normalize_text(t) if isinstance(t, str) else "" for t in text.to_numpy()],
        index=text.index,
        dtype="object",
    )


@F.pandas_udf(T.ArrayType(T.StringType()))
def extract_emails_udf(html: pd.Series) -> pd.Series:
    return pd.Series(
        [extract_emails(h) if isinstance(h, str) else [] for h in html.to_numpy()],
        index=html.index,
    )


@F.pandas_udf(T.ArrayType(T.StringType()))
def extract_phones_udf(html: pd.Series) -> pd.Series:
    return pd.Series(
        [extract_phones(h) if isinstance(h, str) else [] for h in html.to_numpy()],
        index=html.index,
    )


def make_xpath_udf(xpath: str):
    """Factory: pandas UDF extracting the first match of ``xpath`` from an
    HTML column (caption extraction path)."""

    @F.pandas_udf(T.StringType())
    def xpath_get(html: pd.Series) -> pd.Series:
        return pd.Series(
            [htmlpath.get(h, xpath) if isinstance(h, str) else "" for h in html.to_numpy()],
            index=html.index,
            dtype="object",
        )

    return xpath_get


@F.pandas_udf(T.ArrayType(T.StringType()))
def get_links_rich_udf(html: pd.Series, url: pd.Series) -> pd.Series:
    """Rich link extraction: a/@href + iframe/@src + JS location.href
    (xpath.py:515-555)."""
    out = []
    for h, u in zip(html.to_numpy(), url.to_numpy()):
        out.append(htmlpath.get_links(h, u) if isinstance(h, str) else [])
    return pd.Series(out, index=html.index)
