"""Politeness planner invariants (Download.throttle parity,
download.py:455-473) and robots gating (download.py:978/1022 +
urllib.robotparser rule semantics)."""

import pytest
from pyspark.sql import functions as F

from webscraping_spark.operators import politeness as P
from webscraping_spark.operators import robots as R


def make_batch(spark, rows):
    """rows: (url, domain, priority, seq)"""
    df = spark.createDataFrame(rows, "url string, domain string, priority int, seq long")
    return df.withColumn("url_hash", F.xxhash64("url")).withColumn("depth", F.lit(0))


DELAY, VARIANCE = 5.0, 0.5


class TestPolitenessPlan:
    def test_min_spacing_per_domain(self, spark):
        rows = [(f"http://a.com/{i}", "a.com", 0, i) for i in range(20)] + [
            (f"http://b.com/{i}", "b.com", 0, 100 + i) for i in range(5)
        ]
        state = spark.createDataFrame([], P.DOMAIN_STATE_SCHEMA)
        planned, _ = P.plan_schedule(make_batch(spark, rows), state, DELAY, VARIANCE, seed=42)
        for domain in ("a.com", "b.com"):
            offs = sorted(
                r["scheduled_offset"]
                for r in planned.filter(F.col("domain") == domain).collect()
            )
            gaps = [b - a for a, b in zip(offs, offs[1:])]
            # reference contract: spacing in [delay*(1-v/2), delay*(1+v/2)]
            assert all(DELAY * 0.75 - 1e-9 <= g <= DELAY * 1.25 + 1e-9 for g in gaps)
        # first fetch per domain starts immediately
        firsts = planned.groupBy("domain").agg(F.min("scheduled_offset").alias("m")).collect()
        assert all(r["m"] == 0.0 for r in firsts)

    def test_carry_in_across_batches(self, spark):
        state = spark.createDataFrame([], P.DOMAIN_STATE_SCHEMA)
        b1 = make_batch(spark, [("http://a.com/1", "a.com", 0, 1)])
        planned1, state = P.plan_schedule(b1, state, DELAY, VARIANCE)
        b2 = make_batch(spark, [("http://a.com/2", "a.com", 0, 2)])
        planned2, state = P.plan_schedule(b2, state, DELAY, VARIANCE)
        off1 = planned1.first()["scheduled_offset"]
        off2 = planned2.first()["scheduled_offset"]
        assert off1 == 0.0
        assert DELAY * 0.75 <= off2 - off1 <= DELAY * 1.25

    def test_deterministic_given_seed(self, spark):
        rows = [(f"http://a.com/{i}", "a.com", 0, i) for i in range(10)]
        state = spark.createDataFrame([], P.DOMAIN_STATE_SCHEMA)
        p1, _ = P.plan_schedule(make_batch(spark, rows), state, DELAY, VARIANCE, seed=42)
        p2, _ = P.plan_schedule(make_batch(spark, rows), state, DELAY, VARIANCE, seed=42)
        assert sorted(map(tuple, p1.select("url", "scheduled_offset").collect())) == sorted(
            map(tuple, p2.select("url", "scheduled_offset").collect())
        )

    def test_hot_group_bucketing_matches_sequential_scan(self, spark):
        """The two-phase parallel scan (order-aligned buckets + bucket-base
        cumsum) must reproduce the sequential per-group scan exactly up to
        float-association drift, including mixed priorities and a carry-in
        state, with cold domains byte-identical."""
        import numpy as np

        rows = (
            [(f"http://hot.com/{i}", "hot.com", i % 3, i) for i in range(5000)]
            + [(f"http://cold.com/{i}", "cold.com", 0, 10_000 + i) for i in range(40)]
        )
        state = spark.createDataFrame(
            [("hot.com", "", 7.25)], P.DOMAIN_STATE_SCHEMA
        )
        seq_plan, _ = P.plan_schedule(
            make_batch(spark, rows), state, DELAY, VARIANCE, seed=7,
            hot_group_rows=None,
        )
        bkt_plan, _ = P.plan_schedule(
            make_batch(spark, rows), state, DELAY, VARIANCE, seed=7,
            hot_group_rows=500,
        )
        a = {r["url"]: r["scheduled_offset"] for r in seq_plan.collect()}
        b = {r["url"]: r["scheduled_offset"] for r in bkt_plan.collect()}
        assert set(a) == set(b)
        av = np.array([a[u] for u in sorted(a)])
        bv = np.array([b[u] for u in sorted(a)])
        assert np.allclose(av, bv, rtol=1e-12, atol=1e-9)
        # cold domain below the threshold: unbucketed path, exactly equal
        assert all(
            a[u] == b[u] for u in a if u.startswith("http://cold.com/")
        )

    def test_plan_shape_single_exchange_and_live_window(self, spark):
        """Two plan-shape regressions guarded at once (PLANS.md 18):

        1. The cold path (no proxy, no hot buckets) must produce exactly
           ONE exchange before the window — keying the explicit
           repartition on foldable columns (_proxy/_bucket literals) made
           EnsureRequirements stack a second full shuffle on top.
        2. A consumer of scheduled_offset must see a live Window node —
           if every window output is dropped downstream, Catalyst
           dead-code-eliminates the politeness stage entirely (the bench
           shipped that way for two rounds).
        """
        rows = [(f"http://a.com/{i}", "a.com", 0, i) for i in range(50)]
        state = spark.createDataFrame([], P.DOMAIN_STATE_SCHEMA)
        planned, _ = P.plan_schedule(
            make_batch(spark, rows), state, DELAY, VARIANCE, seed=42,
            hot_group_rows=None,
        )
        consumed = planned.select("url", "scheduled_offset")
        plan = consumed._jdf.queryExecution().executedPlan().toString()
        assert "Window" in plan, plan
        import re
        exchanges = re.findall(r"Exchange hashpartitioning\([^)]*domain[^)]*\)", plan)
        assert len(exchanges) == 1, exchanges
        # and the DCE hazard itself: dropping the offset kills the window
        pruned = planned.select("url")
        plan2 = pruned._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan2

    def test_width_argument_sets_partitions_not_offsets(self, spark):
        """``num_partitions`` sizes the window stage; the schedule itself
        is the same at any width."""
        rows = [(f"http://d{i % 3}.com/{i}", f"d{i % 3}.com", 0, i) for i in range(30)]
        state = spark.createDataFrame([], P.DOMAIN_STATE_SCHEMA)
        batch = make_batch(spark, rows)
        default, _ = P.plan_schedule(batch, state, DELAY, VARIANCE, hot_group_rows=None)
        narrow, _ = P.plan_schedule(
            batch, state, DELAY, VARIANCE, hot_group_rows=None, num_partitions=3
        )
        assert narrow.rdd.getNumPartitions() == 3
        offsets = lambda df: sorted(  # noqa: E731
            (r["url"], r["scheduled_offset"]) for r in df.collect()
        )
        assert offsets(narrow) == offsets(default)


class TestRobotsGate:
    def make_candidates(self, spark, urls):
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        return df.withColumn(
            "domain", F.regexp_extract("url", r"://([^/]+)", 1)
        ).withColumn("url_hash", F.xxhash64("url"))

    def make_rules(self, spark, rows):
        return spark.createDataFrame(rows, R.ROBOTS_SCHEMA)

    def test_disallow_subtree(self, spark):
        rules = self.make_rules(
            spark,
            [
                ("a.com", "*", "disallow", "/private", 0, 0),
                ("a.com", "*", "allow", "", 1, 0),
            ],
        )
        cands = self.make_candidates(
            spark,
            ["http://a.com/public/x", "http://a.com/private/y", "http://b.com/z"],
        )
        allowed = {r["url"] for r in R.robots_gate(cands, rules, "testbot").collect()}
        # b.com has no rules -> allowed; /private blocked
        assert allowed == {"http://a.com/public/x", "http://b.com/z"}

    def test_agent_specific_beats_wildcard(self, spark):
        rules = self.make_rules(
            spark,
            [
                ("a.com", "*", "disallow", "/", 0, 0),
                ("a.com", "testbot", "allow", "/", 1, 1),
            ],
        )
        cands = self.make_candidates(spark, ["http://a.com/x"])
        assert R.robots_gate(cands, rules, "testbot").count() == 1
        assert R.robots_gate(cands, rules, "otherbot").count() == 0

    def test_plan_shape_zero_candidate_exchange(self, spark):
        """Round-3 verdict Wrong #1: the gate used to groupBy the joined
        frame on every candidate column — a full re-shuffle of the batch.
        The per-domain rule-array design must keep the candidate lineage
        exchange-free: every hashpartitioning exchange in the executed plan
        sits under the BroadcastExchange (rules side); the candidate side
        is scan -> project -> BroadcastHashJoin -> filter."""
        rules = self.make_rules(
            spark,
            [
                ("a.com", "*", "disallow", "/private", 0, 0),
                ("a.com", "*", "allow", "", 1, 0),
            ],
        )
        cands = self.make_candidates(
            spark, [f"http://a.com/{i}" for i in range(10)]
        )
        gated = R.robots_gate(cands, rules, "testbot")
        gated.collect()  # finalize the adaptive plan
        plan = gated._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan
        lines = plan.splitlines()
        bcast_idx = next(
            i for i, ln in enumerate(lines) if "BroadcastExchange" in ln
        )
        for i, ln in enumerate(lines):
            if "Exchange hashpartitioning" in ln:
                assert i > bcast_idx, (
                    "candidate-side shuffle above the broadcast:\n" + plan
                )

    def test_disallow_star_is_literal_prefix(self, spark):
        """ADVICE r3: urllib.robotparser quotes rule paths, so its
        'path == *' wildcard branch is dead — 'Disallow: *' blocks only
        paths that literally start with '*'. Parity oracle included."""
        import urllib.robotparser

        body = "User-agent: *\nDisallow: *\n"
        rp = urllib.robotparser.RobotFileParser()
        rp.parse(body.splitlines())
        rules = R.robots_table(spark, {"a.com": body})
        urls = ["http://a.com/anything", "http://a.com/", "http://a.com/*lit"]
        cands = spark.createDataFrame(
            [(u, "a.com") for u in urls], "url string, domain string"
        )
        allowed = {r["url"] for r in R.robots_gate(cands, rules, "bot").collect()}
        expected = {u for u in urls if rp.can_fetch("bot", u)}
        assert allowed == expected
        # and the headline: a normal path is NOT blocked by 'Disallow: *'
        assert "http://a.com/anything" in allowed

    def test_first_match_wins(self, spark):
        rules = self.make_rules(
            spark,
            [
                ("a.com", "*", "allow", "/dir/open", 0, 0),
                ("a.com", "*", "disallow", "/dir", 1, 0),
            ],
        )
        cands = self.make_candidates(
            spark, ["http://a.com/dir/open/f", "http://a.com/dir/closed/f"]
        )
        allowed = {r["url"] for r in R.robots_gate(cands, rules, "bot").collect()}
        assert allowed == {"http://a.com/dir/open/f"}


class TestRobotsTxtParser:
    """parse_robots_txt vs urllib.robotparser on the same inputs."""

    ROBOTS = """
# comment line
User-agent: *
Disallow: /private
Allow: /private/open

User-agent: goodbot
Disallow:

User-agent: badbot
Disallow: /
"""

    def test_rows(self):
        from webscraping_spark.operators.robots import parse_robots_txt

        rows = parse_robots_txt("a.com", self.ROBOTS)
        assert ("a.com", "*", "disallow", "/private", 0, 0) in rows
        assert ("a.com", "*", "allow", "/private/open", 1, 0) in rows
        assert ("a.com", "goodbot", "allow", "", 2, 1) in rows
        assert ("a.com", "badbot", "disallow", "/", 3, 2) in rows

    def test_gate_matches_robotparser(self, spark):
        import urllib.robotparser

        from webscraping_spark.operators.robots import robots_gate, robots_table

        rp = urllib.robotparser.RobotFileParser()
        rp.parse(self.ROBOTS.splitlines())
        rules = robots_table(spark, {"a.com": self.ROBOTS})
        urls = [
            "http://a.com/public/x",
            "http://a.com/private/y",
            "http://a.com/private/open/z",
            "http://a.com/",
        ]
        cands = spark.createDataFrame([(u, "a.com") for u in urls], "url string, domain string")
        for agent in ("somebot", "badbot", "goodbot"):
            allowed = {r["url"] for r in robots_gate(cands, rules, agent).collect()}
            expected = {u for u in urls if rp.can_fetch(agent, u)}
            assert allowed == expected, f"agent={agent}"

    ROBOTS_EXACT_NO_MATCH = """
User-agent: specificbot
Disallow: /foo

User-agent: *
Disallow: /
"""

    def test_exact_section_shadows_star_even_without_match(self, spark):
        """urllib consults ONE section: when an exact-agent section exists,
        '*' rules never decide — even for paths the exact section doesn't
        mention (round-1 wrong-answer case: engine used to let the '*'
        disallow-all win for specificbot on /bar)."""
        import urllib.robotparser

        from webscraping_spark.operators.robots import robots_gate, robots_table

        rp = urllib.robotparser.RobotFileParser()
        rp.parse(self.ROBOTS_EXACT_NO_MATCH.splitlines())
        rules = robots_table(spark, {"a.com": self.ROBOTS_EXACT_NO_MATCH})
        urls = ["http://a.com/bar", "http://a.com/foo/x", "http://a.com/"]
        cands = spark.createDataFrame(
            [(u, "a.com") for u in urls], "url string, domain string"
        )
        for agent in ("specificbot", "otherbot"):
            allowed = {r["url"] for r in robots_gate(cands, rules, agent).collect()}
            expected = {u for u in urls if rp.can_fetch(agent, u)}
            assert allowed == expected, f"agent={agent}"
        # the headline case explicitly: exact section exists, no prefix
        # matches /bar -> allowed (the '*' Disallow: / must not fire)
        allowed = {
            r["url"] for r in robots_gate(cands, rules, "specificbot").collect()
        }
        assert "http://a.com/bar" in allowed

    ROBOTS_SUBSTRING = """
User-agent: wswp
Disallow: /w

User-agent: good
Disallow: /g

User-agent: goodbot
Disallow: /z

User-agent: *
Disallow: /all
"""

    def test_substring_agent_matching_matches_robotparser(self, spark):
        """Entry.applies_to matches a section when the section's agent token
        is a SUBSTRING of the UA's first '/'-separated token, lowercased —
        'wswp/1.0' hits section 'wswp'; 'goodbot' hits section 'good'
        (first applicable entry in file order, so 'goodbot's own later
        section never fires); unknown UAs fall to '*' (round-2 verdict
        Wrong #1)."""
        import urllib.robotparser

        from webscraping_spark.operators.robots import robots_gate, robots_table

        rp = urllib.robotparser.RobotFileParser()
        rp.parse(self.ROBOTS_SUBSTRING.splitlines())
        rules = robots_table(spark, {"a.com": self.ROBOTS_SUBSTRING})
        urls = [
            "http://a.com/w/1",
            "http://a.com/g/1",
            "http://a.com/z/1",
            "http://a.com/all/1",
            "http://a.com/",
        ]
        cands = spark.createDataFrame(
            [(u, "a.com") for u in urls], "url string, domain string"
        )
        for agent in ("wswp/1.0", "goodbot/2.0", "GoodBot", "good", "unknown/9"):
            allowed = {r["url"] for r in robots_gate(cands, rules, agent).collect()}
            expected = {u for u in urls if rp.can_fetch(agent, u)}
            assert allowed == expected, f"agent={agent}"
        # spot-check the headline substring cases without the oracle too
        got = {r["url"] for r in robots_gate(cands, rules, "wswp/1.0").collect()}
        assert "http://a.com/w/1" not in got and "http://a.com/all/1" in got
        got = {r["url"] for r in robots_gate(cands, rules, "goodbot/2.0").collect()}
        # first applicable entry is 'good', NOT 'goodbot' — so goodbot's own
        # later section (Disallow /z) never fires for it
        assert "http://a.com/g/1" not in got and "http://a.com/z/1" in got

    ROBOTS_STAR_FOLD = """
User-agent: *
Disallow: /x

User-agent: helperbot
User-agent: *
Disallow: /y
"""

    def test_star_in_named_section_folds_to_default(self, spark):
        """robotparser._add_entry: an entry with '*' among its agents IS the
        default entry (named co-agents never match by name) and only the
        first '*' entry counts — so helperbot's section here is dropped
        entirely and helperbot is governed by the first '*' section."""
        import urllib.robotparser

        from webscraping_spark.operators.robots import robots_gate, robots_table

        rp = urllib.robotparser.RobotFileParser()
        rp.parse(self.ROBOTS_STAR_FOLD.splitlines())
        rules = robots_table(spark, {"a.com": self.ROBOTS_STAR_FOLD})
        urls = ["http://a.com/x/a", "http://a.com/y/a", "http://a.com/"]
        cands = spark.createDataFrame(
            [(u, "a.com") for u in urls], "url string, domain string"
        )
        for agent in ("helperbot", "anybot"):
            allowed = {r["url"] for r in robots_gate(cands, rules, agent).collect()}
            expected = {u for u in urls if rp.can_fetch(agent, u)}
            assert allowed == expected, f"agent={agent}"
        got = {r["url"] for r in robots_gate(cands, rules, "helperbot").collect()}
        assert "http://a.com/y/a" in got and "http://a.com/x/a" not in got


class TestCrawlDelay:
    """robots crawl-delay: parse + resolution vs urllib.robotparser, and
    the politeness-planner override."""

    BODIES = {
        # named entry with a delay; default with another
        "a.com": "User-agent: testbot\nDisallow: /x\nCrawl-delay: 7\n\n"
                 "User-agent: *\nDisallow: /y\nCrawl-delay: 3\n",
        # applicable named entry WITHOUT a delay shadows the default's
        "b.com": "User-agent: testbot\nDisallow: /x\n\n"
                 "User-agent: *\nCrawl-delay: 3\nDisallow: /y\n",
        # non-integer delay is ignored (robotparser's isdigit gate)
        "c.com": "User-agent: *\nDisallow: /x\nCrawl-delay: 2.5\n",
        # delay-only entry: no rules, still recorded and applicable
        "d.com": "User-agent: testbot\nCrawl-delay: 9\n\n"
                 "User-agent: *\nDisallow: /\n",
        # only the FIRST * entry counts; the second one's delay is dropped
        "e.com": "User-agent: *\nDisallow: /x\n\n"
                 "User-agent: *\nCrawl-delay: 4\nDisallow: /y\n",
        # no delays anywhere
        "f.com": "User-agent: *\nDisallow: /x\n",
    }

    def _rfp(self, body):
        import urllib.robotparser

        rfp = urllib.robotparser.RobotFileParser()
        rfp.parse(body.splitlines())
        return rfp

    @pytest.mark.parametrize("agent", ["testbot", "otherbot", "testbot/2.0"])
    def test_resolution_matches_robotparser(self, spark, agent):
        from webscraping_spark.operators.robots import crawl_delay_table, delays_table

        delays = delays_table(spark, self.BODIES)
        got = {
            r["domain"]: r["crawl_delay"]
            for r in crawl_delay_table(delays, agent).collect()
        }
        want = {}
        for domain, body in self.BODIES.items():
            d = self._rfp(body).crawl_delay(agent)
            if d is not None:
                want[domain] = float(d)
        assert got == want

    def test_delay_only_entry_shadows_default_in_gate(self, spark):
        # d.com: testbot's entry has no rules -> robotparser allows ALL
        # paths for testbot (empty entry shadows 'Disallow: /')
        from webscraping_spark.operators.robots import robots_gate, robots_table

        rules = robots_table(spark, self.BODIES)
        cands = spark.createDataFrame(
            [("d.com", "http://d.com/deep/page")], "domain string, url string"
        )
        rfp = self._rfp(self.BODIES["d.com"])
        assert rfp.can_fetch("testbot", "http://d.com/deep/page")
        assert not rfp.can_fetch("otherbot", "http://d.com/deep/page")
        assert robots_gate(cands, rules, "testbot").count() == 1
        assert robots_gate(cands, rules, "otherbot").count() == 0

    def test_plan_schedule_applies_override_as_floor(self, spark):
        from webscraping_spark.operators import politeness

        batch = spark.createDataFrame(
            [
                (f"http://{d}/p{i}", d, 0, i)
                for d in ("slow.com", "fast.com")
                for i in range(3)
            ],
            "url string, domain string, priority int, seq int",
        )
        state = spark.createDataFrame([], politeness.DOMAIN_STATE_SCHEMA)
        overrides = spark.createDataFrame(
            [("slow.com", 10.0), ("fast.com", 1.0)],
            "domain string, crawl_delay double",
        )
        planned, _ = politeness.plan_schedule(
            batch, state, delay=2.0, variance=0.0, domain_delays=overrides,
            hot_group_rows=None,
        )
        offs = {
            (r["domain"], r["seq"]): r["scheduled_offset"]
            for r in planned.collect()
        }
        # variance=0 -> jitter == effective delay exactly;
        # slow.com spaced at max(2, 10) = 10, fast.com floored to max(2, 1) = 2
        for i in range(3):
            assert offs[("slow.com", i)] == pytest.approx(10.0 * i)
            assert offs[("fast.com", i)] == pytest.approx(2.0 * i)
        assert "crawl_delay" not in planned.columns

    def test_crawl_job_accepts_overrides(self, spark, tmp_path):
        # e2e smoke: a CrawlJob with robots_delays still crawls the diamond
        # fixture correctly (order/seen unchanged — delays only stretch the
        # schedule, and the diamond is single-domain)
        from webscraping_spark.operators.robots import crawl_delay_table, delays_table
        from webscraping_spark.plans.crawl import CrawlConfig, CrawlJob
        from webscraping_spark.sources import synth

        pages = synth.site_diamond()
        delays = delays_table(
            spark, {"example.com": "User-agent: *\nDisallow: /nope\nCrawl-delay: 6\n"}
        )
        job = CrawlJob(
            spark,
            synth.pages_df(spark, pages),
            CrawlConfig(max_depth=None),
            robots_delays=crawl_delay_table(delays, "testbot"),
        )
        job.run([pages[0]["url"]])
        assert job.metrics.num_caches == 1


class TestRequestRate:
    """robots Request-rate: parse + resolution vs urllib.robotparser, and
    the folded politeness override."""

    BODIES = {
        # named entry with a rate; default with another
        "a.com": "User-agent: testbot\nDisallow: /x\nRequest-rate: 1/7\n\n"
                 "User-agent: *\nDisallow: /y\nRequest-rate: 1/3\n",
        # applicable named entry WITHOUT a rate shadows the default's
        "b.com": "User-agent: testbot\nDisallow: /x\n\n"
                 "User-agent: *\nRequest-rate: 1/3\nDisallow: /y\n",
        # malformed rates are ignored (both sides must be digits)
        "c.com": "User-agent: *\nDisallow: /x\nRequest-rate: 2.5/10\n",
        "c2.com": "User-agent: *\nDisallow: /x\nRequest-rate: 5\n",
        # rate-only entry: no rules, still recorded and applicable
        "d.com": "User-agent: testbot\nRequest-rate: 3/60\n\n"
                 "User-agent: *\nDisallow: /\n",
        # both directives in one entry
        "e.com": "User-agent: *\nDisallow: /x\nCrawl-delay: 4\nRequest-rate: 1/10\n",
        # multi-request rate: 5 requests per 10 seconds -> spacing 2
        "f.com": "User-agent: *\nDisallow: /x\nRequest-rate: 5/10\n",
    }

    def _rfp(self, body):
        import urllib.robotparser

        rfp = urllib.robotparser.RobotFileParser()
        rfp.parse(body.splitlines())
        return rfp

    @pytest.mark.parametrize("agent", ["testbot", "otherbot"])
    def test_resolution_matches_robotparser(self, spark, agent):
        from webscraping_spark.operators.robots import delays_table, request_rate_table

        delays = delays_table(spark, self.BODIES)
        got = {
            r["domain"]: (r["rate_requests"], r["rate_seconds"])
            for r in request_rate_table(delays, agent).collect()
        }
        want = {}
        for domain, body in self.BODIES.items():
            rr = self._rfp(body).request_rate(agent)
            if rr is not None:
                want[domain] = (rr.requests, rr.seconds)
        assert got == want

    def test_politeness_overrides_fold_both_directives(self, spark):
        from webscraping_spark.operators.robots import delays_table, politeness_overrides

        delays = delays_table(spark, self.BODIES)
        got = {
            r["domain"]: r["crawl_delay"]
            for r in politeness_overrides(delays, "otherbot").collect()
        }
        # a: 1/3 -> 3s; b: 1/3 (otherbot gets the default); e: max(4, 10) = 10;
        # f: 10/5 = 2; c/c2 malformed -> absent; d (otherbot -> default, no pacing)
        assert got == {
            "a.com": 3.0, "b.com": 3.0, "e.com": 10.0, "f.com": 2.0,
        }
        got_tb = {
            r["domain"]: r["crawl_delay"]
            for r in politeness_overrides(delays, "testbot").collect()
        }
        # testbot: a -> its own entry 1/7 = 7; b -> shadowed (no pacing);
        # d -> 60/3 = 20; c/c2/e/f -> default entries apply as for otherbot
        assert got_tb == {
            "a.com": 7.0, "d.com": 20.0, "e.com": 10.0, "f.com": 2.0,
        }

    def test_zero_requests_rate_guarded(self, spark):
        from webscraping_spark.operators.robots import delays_table, politeness_overrides

        delays = delays_table(
            spark, {"z.com": "User-agent: *\nDisallow: /x\nRequest-rate: 0/10\n"}
        )
        # robotparser records RequestRate(0, 10); spacing is undefined ->
        # no override row rather than a divide-by-zero
        assert politeness_overrides(delays, "bot").collect() == []


class TestAdaptiveDelays:
    def _log(self, spark, events):
        """events: list of (domain, seq, ok)"""
        return spark.createDataFrame(events, "domain string, seq long, ok boolean")

    def test_aimd_fold_exact(self, spark):
        # hand fold (base 5000, x2 on error cap 60000, -1000 on ok floor 5000):
        # ok 5000 -> err 10000 -> err 20000 -> ok 19000 -> ok 18000
        log = self._log(
            spark,
            [("a.com", i, ok) for i, ok in enumerate([True, False, False, True, True])]
            + [("b.com", 0, True)],
        )
        got = {r["domain"]: r for r in P.adaptive_delays(log, cap_ms=60_000).collect()}
        a = got["a.com"]
        assert a["delay_ms"] == 18_000 and a["crawl_delay"] == 18.0
        assert a["n_visits"] == 5 and a["n_errors"] == 2
        b = got["b.com"]
        assert b["delay_ms"] == 5000  # floor: success never goes below base

    def test_cap_floor_and_window(self, spark):
        # 10 straight errors cap at cap_ms
        log = self._log(spark, [("c.com", i, False) for i in range(10)])
        (c,) = P.adaptive_delays(log, cap_ms=40_000).collect()
        assert c["delay_ms"] == 40_000
        # ancient errors outside the window are forgotten
        log2 = self._log(
            spark,
            [("d.com", i, False) for i in range(5)]
            + [("d.com", 100 + i, True) for i in range(8)],
        )
        (d,) = P.adaptive_delays(log2, window=8).collect()
        assert d["delay_ms"] == 5000  # only the 8 recent successes folded
        assert d["n_errors"] == 5  # diagnostics still span the full log

    def test_partitioning_invariance(self, spark):
        import random

        rnd = random.Random(7)
        events = [
            (f"x{i % 6}.com", i, rnd.random() < 0.6) for i in range(300)
        ]
        log = self._log(spark, events)
        a = sorted(map(tuple, P.adaptive_delays(log).collect()))
        b = sorted(map(tuple, P.adaptive_delays(log.repartition(13)).collect()))
        assert a == b

    def test_plugs_into_plan_schedule(self, spark):
        log = self._log(spark, [("slow.com", i, False) for i in range(4)])
        overrides = P.adaptive_delays(log, cap_ms=60_000).select("domain", "crawl_delay")
        rows = [(f"http://slow.com/{i}", "slow.com", 0, i) for i in range(3)] + [
            (f"http://fast.com/{i}", "fast.com", 0, 10 + i) for i in range(3)
        ]
        state = spark.createDataFrame([], P.DOMAIN_STATE_SCHEMA)
        planned, _ = P.plan_schedule(
            make_batch(spark, rows), state, 5.0, 0.0, domain_delays=overrides
        )
        offs = {}
        for r in planned.collect():
            offs.setdefault(r["domain"], []).append(r["scheduled_offset"])
        slow = sorted(offs["slow.com"])
        fast = sorted(offs["fast.com"])
        # 4 errors: 5000 -> 10k -> 20k -> 40k -> 80k, capped at 60000ms =
        # 60s spacing; fast stays at the config 5s
        assert abs((slow[1] - slow[0]) - 60.0) < 1e-6
        assert abs((fast[1] - fast[0]) - 5.0) < 1e-6


class TestPolitenessAudit:
    """politeness.politeness_audit: executed-crawl gap verification."""

    def test_violations_and_min_gap(self, spark):
        from webscraping_spark.operators.politeness import politeness_audit

        log = spark.createDataFrame(
            [
                ("a.com", 0), ("a.com", 5000), ("a.com", 7000),  # 2000 < 5000
                ("b.com", 100), ("b.com", 10100),
                ("c.com", 42),  # single visit: no gap, no violation
            ],
            "domain string, ts_ms long",
        )
        got = {
            r["domain"]: (r["n_visits"], r["delay_ms"], r["min_gap_ms"], r["n_violations"])
            for r in politeness_audit(log, default_delay_ms=5000).collect()
        }
        assert got["a.com"] == (3, 5000, 2000, 1)
        assert got["b.com"] == (2, 5000, 10000, 0)
        assert got["c.com"] == (1, 5000, None, 0)

    def test_domain_delays_raise_the_bar(self, spark):
        from webscraping_spark.operators.politeness import politeness_audit

        log = spark.createDataFrame(
            [("a.com", 0), ("a.com", 6000)], "domain string, ts_ms long"
        )
        dd = spark.createDataFrame([("a.com", 10.0)], "domain string, crawl_delay double")
        got = politeness_audit(log, 5000, domain_delays=dd).collect()[0]
        # required = max(10s robots, 5s floor) = 10000ms; 6000 violates
        assert (got["delay_ms"], got["n_violations"]) == (10000, 1)

    def test_plan_schedule_output_audits_clean(self, spark):
        from webscraping_spark.operators import politeness as P

        batch = spark.createDataFrame(
            [
                (f"http://x{i % 3}.com/p{i}", f"x{i % 3}.com", 0, i, 0)
                for i in range(30)
            ],
            "url string, domain string, depth int, seq long, priority int",
        )
        state = spark.createDataFrame([], P.DOMAIN_STATE_SCHEMA)
        planned, _ = P.plan_schedule(batch, state, delay=2.0, variance=0.0)
        log = planned.select(
            "domain",
            (F.col("scheduled_offset") * 1000).cast("long").alias("ts_ms"),
        )
        audit = P.politeness_audit(log, default_delay_ms=2000)
        assert audit.agg(F.sum("n_violations")).collect()[0][0] == 0
