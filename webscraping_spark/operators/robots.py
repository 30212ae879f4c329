"""robots.txt gating as a broadcast join + vectorized rule match.

Reference: ``CrawlerCallback.crawl.valid`` consults one RobotFileParser for
the whole crawl (download.py:978, 1022) — note the reference reads the
undefined ``settings.user_agent`` there (latent bug, SURVEY.md §7.4); the
engine takes the agent explicitly.

Entry/rule semantics follow urllib.robotparser exactly:

* the file parses into *entries* (sections); consecutive ``User-agent``
  lines share the following rules;
* an entry containing ``*`` among its agents becomes the *default* entry —
  the whole entry, including any named agents, which then never match by
  name — and only the FIRST such entry counts (``_add_entry``);
* ``can_fetch`` scans named entries in file order and uses the first one
  that *applies to* the user agent: an entry applies when any of its agent
  tokens, lowercased, is a **substring** of ``useragent.split('/')[0]
  .lower()`` (``Entry.applies_to``). No applicable named entry → the
  default entry decides; no default → allowed;
* within the selected entry, the first rule (file order) whose path prefix
  matches decides (``Entry.allowance``); a ``*`` path matches everything;
  no matching rule means allowed; an empty ``Disallow`` value is allow-all.

Rules live in a small per-domain table (FIXTURES.md §4) broadcast to the
candidates — robots tables are tiny relative to frontiers (one row per
rule, ~10^5 domains x ~10 rules even at web scale fits a broadcast; if it
ever didn't, the join key (domain) co-partitions with the politeness
shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webscraping_spark.session import local_frame

ROBOTS_SCHEMA = (
    "domain string, agent string, rule string, path_prefix string, "
    "order int, entry int"
)

DELAYS_SCHEMA = (
    "domain string, agent string, entry int, crawl_delay double, "
    "rate_requests int, rate_seconds int"
)

SITEMAPS_SCHEMA = "domain string, sitemap string, pos int"


def _parse_entries(
    text: str,
) -> list[tuple[list[str], list[tuple[str, str, int]], int | None, tuple[int, int] | None]]:
    """urllib.robotparser's ``parse()`` state machine: file-ordered entries
    as ``(agents, rules, crawl_delay, request_rate)`` after default folding.

    Semantics replicated exactly: consecutive ``User-agent`` lines share
    the following rules; a rule, ``Crawl-delay`` or ``Request-rate`` line
    moves the entry to state 2, and only state-2 entries are recorded
    (agents with no rules/delay/rate vanish, just like robotparser's EOF
    check); an entry whose agents include ``*`` becomes the default entry
    — first one wins, later ``*`` entries are dropped whole; ``Crawl-
    delay`` accepts only integer values (robotparser's ``isdigit()`` gate
    — ``2.5`` is ignored); ``Request-rate`` accepts only ``<int>/<int>``
    (both sides isdigit); an empty ``Disallow`` value records as
    allow-all; ``#`` comments and unknown directives are ignored. An
    entry can be directive-only (zero rules) — robotparser still records
    it, and an applicable empty entry allows everything AND shadows the
    default entry.
    """
    entries: list = []
    have_default = False
    agents: list[str] = []
    rules: list[tuple[str, str, int]] = []
    delay: int | None = None
    req_rate: tuple[int, int] | None = None
    state = 0  # 0 = start, 1 = agents seen, 2 = rules/directives seen
    order = 0

    def add() -> None:
        nonlocal agents, rules, delay, req_rate, have_default
        if agents:
            if "*" in agents:
                # robotparser._add_entry: the whole entry becomes the
                # default (named co-agents never match by name) and the
                # first '*' entry wins; later ones are dropped.
                if not have_default:
                    have_default = True
                    entries.append((["*"], rules, delay, req_rate))
            else:
                entries.append((agents, rules, delay, req_rate))
        agents, rules, delay, req_rate = [], [], None, None

    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if state == 2:
                add()
            state = 1
            agents.append(value)
        elif key in ("allow", "disallow"):
            if state == 0:
                continue
            state = 2
            rule = "allow" if key == "allow" else "disallow"
            if key == "disallow" and value == "":
                rule, value = "allow", ""
            rules.append((rule, value, order))
            order += 1
        elif key == "crawl-delay":
            if state == 0:
                continue
            if value.isdigit():
                delay = int(value)
            state = 2
        elif key == "request-rate":
            if state == 0:
                continue
            numbers = value.split("/")
            if (
                len(numbers) == 2
                and numbers[0].strip().isdigit()
                and numbers[1].strip().isdigit()
            ):
                req_rate = (int(numbers[0]), int(numbers[1]))
            state = 2
    if state == 2:
        add()
    return entries


def parse_robots_txt(domain: str, text: str) -> list[tuple[str, str, str, str, int, int]]:
    """Parse robots.txt content into ROBOTS_SCHEMA rows (see
    :func:`_parse_entries` for the shared robotparser state machine).

    ``entry`` numbers the recorded entries in file order. A rule-less
    entry (e.g. Crawl-delay only) emits one MARKER row with a NULL
    ``path_prefix``: the gate's prefix predicates are NULL on it so it can
    never match a path, but the entry stays visible to first-applicable
    selection — robotparser treats an applicable empty entry as allow-all
    that shadows the default entry.
    """
    rows: list[tuple[str, str, str, str, int, int]] = []
    for entry_idx, (agents, rules, _delay, _rate) in enumerate(_parse_entries(text)):
        for agent in agents:
            if rules:
                for rule, prefix, o in rules:
                    rows.append((domain, agent, rule, prefix, o, entry_idx))
            else:
                rows.append((domain, agent, "allow", None, -1, entry_idx))
    return rows


def parse_robots_delays(domain: str, text: str) -> list[tuple]:
    """DELAYS_SCHEMA rows: one per (entry, agent) with the entry's
    Crawl-delay and Request-rate (None when the entry lacks them — such
    rows still matter: a directive-less applicable entry shadows the
    default entry's delay AND rate)."""
    return [
        (
            domain,
            agent,
            entry_idx,
            float(delay) if delay is not None else None,
            rate[0] if rate is not None else None,
            rate[1] if rate is not None else None,
        )
        for entry_idx, (agents, _rules, delay, rate) in enumerate(_parse_entries(text))
        for agent in agents
    ]


def parse_sitemaps(text: str) -> list[str]:
    """``Sitemap:`` directives in file order — urllib.robotparser
    ``site_maps()`` parity (minus its None-for-empty convention; a list is
    friendlier to a DataFrame build).

    robotparser records a sitemap line wherever it appears — before any
    User-agent, between entries, inside an entry — and does NOT change the
    entry state machine ("this directive is independent of the user-agent
    line", sitemaps.org protocol, quoted in CPython's parser). The value
    is taken verbatim after comment strip + whitespace strip: no URL
    validation, an empty value records as ``''``, duplicates are kept.
    """
    maps: list[str] = []
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        if key.strip().lower() == "sitemap":
            maps.append(value.strip())
    return maps


def sitemap_table(spark, per_domain_texts: dict[str, str]):
    """(domain, sitemap, pos) rows from raw robots.txt bodies — the seed
    source for a sitemap-driven crawl: push these URLs into the frontier
    at depth 0 and let ``operators.sitemap.expand_sitemaps`` unroll the
    fetched XML into page seeds."""
    rows = [
        (domain, sm, pos)
        for domain, text in per_domain_texts.items()
        for pos, sm in enumerate(parse_sitemaps(text))
    ]
    return local_frame(spark, rows, SITEMAPS_SCHEMA)


def robots_table(spark, per_domain_texts: dict[str, str]):
    """Build the broadcastable rules DataFrame from raw robots.txt bodies."""
    rows = [
        row for domain, text in per_domain_texts.items()
        for row in parse_robots_txt(domain, text)
    ]
    return local_frame(spark, rows, ROBOTS_SCHEMA)


def delays_table(spark, per_domain_texts: dict[str, str]):
    """Build the per-entry Crawl-delay DataFrame from raw robots.txt bodies."""
    rows = [
        row for domain, text in per_domain_texts.items()
        for row in parse_robots_delays(domain, text)
    ]
    return local_frame(spark, rows, DELAYS_SCHEMA)


_DIRECTIVE_COLS = ["crawl_delay", "rate_requests", "rate_seconds"]


def _resolve_directives(delays: DataFrame, user_agent: str) -> DataFrame:
    """Resolve the applicable entry's directives per domain: one
    ``(domain, crawl_delay, rate_requests, rate_seconds)`` row per domain
    that has any applicable entry (fields null when the entry lacks them).

    Entry selection is can_fetch's: the FIRST applicable named entry
    (substring agent match, file order) decides — returning ITS directives
    even when absent, so a directive-less applicable entry shadows the
    default; only domains with no applicable named entry fall through to
    the ``*`` entry. All operands are rule-table-sized.
    """
    ua_token = user_agent.split("/")[0].lower()
    named = delays.filter(
        (F.col("agent") != "*")
        & F.lit(ua_token).contains(F.lower(F.col("agent")))
    )
    first_entry = named.groupBy("domain").agg(F.min("entry").alias("_win"))
    named = (
        named.join(first_entry, "domain")
        .filter(F.col("entry") == F.col("_win"))
        # one entry may list several matching agent tokens; directives are
        # entry properties, so the rows are duplicates
        .select("domain", *_DIRECTIVE_COLS)
        .distinct()
    )
    star = delays.filter(F.col("agent") == "*").join(
        named.select("domain").distinct(), "domain", "left_anti"
    ).select("domain", *_DIRECTIVE_COLS)
    return named.unionByName(star)


def crawl_delay_table(delays: DataFrame, user_agent: str) -> DataFrame:
    """``urllib.robotparser.crawl_delay`` per domain: one
    ``(domain, crawl_delay)`` row per domain that resolves to a delay.
    Feeds :func:`webscraping_spark.operators.politeness.plan_schedule`
    as its ``domain_delays`` input (broadcast-sized)."""
    return _resolve_directives(delays, user_agent).select(
        "domain", "crawl_delay"
    ).filter(F.col("crawl_delay").isNotNull())


def request_rate_table(delays: DataFrame, user_agent: str) -> DataFrame:
    """``urllib.robotparser.request_rate`` per domain: one
    ``(domain, rate_requests, rate_seconds)`` row per domain that
    resolves to a rate."""
    return _resolve_directives(delays, user_agent).select(
        "domain", "rate_requests", "rate_seconds"
    ).filter(F.col("rate_requests").isNotNull())


def politeness_overrides(delays: DataFrame, user_agent: str) -> DataFrame:
    """One ``(domain, crawl_delay)`` row per domain folding BOTH robots
    pacing directives into the single per-domain spacing the politeness
    planner consumes: max(Crawl-delay, Request-rate seconds/requests) of
    the applicable entry. A rate of n requests per s seconds is the mean
    spacing s/n — the planner's running-sum schedule enforces mean
    spacing, so the two directives fold onto one axis."""
    r = _resolve_directives(delays, user_agent)
    spacing = F.greatest(
        F.coalesce(F.col("crawl_delay"), F.lit(0.0)),
        F.coalesce(
            # guard the ANSI divide: robotparser accepts '0/10'
            F.when(
                F.col("rate_requests") > 0,
                F.col("rate_seconds").cast("double")
                / F.col("rate_requests").cast("double"),
            ),
            F.lit(0.0),
        ),
    )
    return (
        r.select("domain", spacing.alias("crawl_delay"))
        .filter(F.col("crawl_delay") > 0.0)
    )


def robots_gate(
    candidates: DataFrame,
    robots: DataFrame,
    user_agent: str,
    url_col: str = "url",
) -> DataFrame:
    """Filter candidates to rows robots.txt allows for ``user_agent``.

    Plan shape (zero candidate-side exchange): select the applicable
    section per domain on the (small) rules side — substring agent match
    per ``Entry.applies_to``, first applicable named entry in file order,
    ``'*'`` default only for domains with no applicable named entry —
    collapse it to ONE row per domain carrying a file-ordered
    ``ARRAY<STRUCT<order,rule,path_prefix>>``, broadcast-join candidates
    against that table, and decide per row with higher-order
    ``filter``/``element_at`` expressions (first matching rule in file
    order wins; no match / no rules = allowed). The candidate frame never
    shuffles: the round-3 design aggregated the JOINED frame with a
    ``groupBy`` over every candidate column, which re-exchanged the whole
    batch for a decision computable per-row (and broke on un-groupable
    column types such as maps).

    Wildcard note (strict robotparser parity): a ``Disallow: *`` rule is
    matched as the literal prefix ``'*'`` — which blocks (almost) nothing —
    exactly like urllib.robotparser, where ``RuleLine`` quotes rule paths
    (``quote('*') == '%2A'``) so its ``path == "*"`` wildcard branch is
    dead code and ``'Disallow: *'`` only blocks paths that literally start
    with ``'*'`` (quoted ``'%2A'`` on both sides there, raw ``'*'`` on both
    sides here). The engine gates canonicalized URLs, for which quoting is
    the identity on the ASCII-safe set, so no quote pass is applied.
    """
    path = F.coalesce(
        F.when(
            F.col(url_col).rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://"),
            F.parse_url(F.col(url_col), F.lit("PATH")),
        ),
        F.lit("/"),
    )
    cand = candidates.withColumn("_path", F.when(path == "", "/").otherwise(path))

    # Entry.applies_to: lowercase the agent token and test substring
    # containment against the UA's first '/'-separated token. The agent
    # string is constant for the gate, so this runs on the tiny rules side.
    ua_token = user_agent.split("/")[0].lower()
    named = robots.filter(
        (F.col("agent") != "*")
        & F.lit(ua_token).contains(F.lower(F.col("agent")))
    )
    # can_fetch scans entries in file order; the first applicable named
    # entry decides alone.
    first_entry = named.groupBy("domain").agg(F.min("entry").alias("_win_entry"))
    named = (
        named.join(first_entry, "domain")
        .filter(F.col("entry") == F.col("_win_entry"))
        .drop("_win_entry")
    )
    # The default entry is consulted last: only for domains where no named
    # entry applied.
    star = robots.filter(F.col("agent") == "*").join(
        named.select("domain").distinct(), "domain", "left_anti"
    )
    applicable = named.unionByName(star)

    # ONE array row per domain, file-ordered (struct sorts by its first
    # field, `order`) — the only exchange in the whole gate is this groupBy
    # on the tiny rules side, which then broadcasts.
    rules_arr = applicable.groupBy("domain").agg(
        F.sort_array(
            F.collect_list(F.struct("order", "rule", "path_prefix"))
        ).alias("_rules")
    )
    joined = cand.join(F.broadcast(rules_arr), "domain", "left")
    # Entry.allowance: first rule (file order) whose prefix matches decides;
    # empty prefix matches everything; no match / no rules row = allowed.
    # F.get (not element_at): null on empty arrays under ANSI mode
    winner = F.get(
        F.filter(
            F.col("_rules"),
            lambda r: (r["path_prefix"] == "")
            | F.col("_path").startswith(r["path_prefix"]),
        ),
        0,
    )
    allowed = joined.filter(winner.isNull() | (winner["rule"] == "allow"))
    return allowed.select(*candidates.columns)
