"""URL expression tests (functions/urls.py) — pure-Catalyst parsing."""

from __future__ import annotations

from pyspark.sql import functions as F

from vtk_reserves_spark.functions import urls as U


def _one(spark, url, fn):
    df = spark.createDataFrame([(url,)], "u string")
    return df.select(fn(F.col("u")).alias("v")).collect()[0].v


def test_url_components(spark):
    u = "https://user:pw@Sub.Example.CO.UK:8443/a/b/c.html?q=1&r=2#frag"
    assert _one(spark, u, U.url_scheme) == "https"
    assert _one(spark, u, U.url_host) == "sub.example.co.uk"
    assert _one(spark, u, U.url_port) == 8443
    assert _one(spark, u, U.url_path) == "/a/b/c.html"
    assert _one(spark, u, U.url_query) == "q=1&r=2"
    assert _one(spark, u, U.url_depth) == 3


def test_url_no_parse_and_edges(spark):
    for bad in ("not a url", "relative/path", ""):
        assert _one(spark, bad, U.url_host) is None
        assert _one(spark, bad, U.url_path) is None
    assert _one(spark, "http://example.com", U.url_path) == ""
    assert _one(spark, "http://example.com", U.url_depth) == 0
    assert _one(spark, "http://example.com/", U.url_depth) == 0
    assert _one(spark, "ftp://example.com/x", U.url_scheme) == "ftp"
    assert _one(spark, "http://example.com:notaport/x", U.url_port) is None
    # FQDN root dot: stripped so PSL grouping sees the canonical host
    assert _one(spark, "https://www.Example.COM./x", U.url_host) == "www.example.com"


def test_registered_domain(spark):
    cases = [
        ("www.example.com", "example.com"),
        ("a.b.c.example.org", "example.org"),
        ("news.bbc.co.uk", "bbc.co.uk"),
        ("bbc.co.uk", "bbc.co.uk"),
        ("co.uk", "co.uk"),  # bare suffix: only two labels exist
        ("shop.foo.com.au", "foo.com.au"),
        ("localhost", "localhost"),
        (None, None),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "h string")
    got = [
        r.v
        for r in df.select(U.registered_domain(F.col("h")).alias("v")).collect()
    ]
    assert got == [w for _, w in cases]


def test_registered_domain_psl_rules(spark):
    """PSL snapshot semantics: private suffixes, wildcards, exceptions."""
    cases = [
        # private-section hosting suffixes: naive last-2 would merge
        # every github.io site into one bucket
        ("alice.github.io", "alice.github.io"),
        ("www.alice.github.io", "alice.github.io"),
        ("myblog.blogspot.com", "myblog.blogspot.com"),
        ("a.blogspot.co.uk", "a.blogspot.co.uk"),
        # wildcard *.kobe.jp: bar.kobe.jp IS the public suffix
        ("foo.bar.kobe.jp", "foo.bar.kobe.jp"),
        # ...with its !city.kobe.jp exception
        ("www.city.kobe.jp", "city.kobe.jp"),
        # wildcard TLD *.np: every 2-label tail is a public suffix
        ("example.com.np", "example.com.np"),
        ("www.example.com.np", "example.com.np"),
        # !www.ck exception under *.ck
        ("www.ck", "www.ck"),
        ("shop.www.ck", "www.ck"),
        ("foo.other.ck", "foo.other.ck"),
        # 4-label AWS wildcard
        (
            "ec2-1-2-3-4.us-west-2.compute.amazonaws.com",
            "ec2-1-2-3-4.us-west-2.compute.amazonaws.com",
        ),
        # PSL-only ccTLD second levels absent from the old heuristic
        ("shop.example.co.nz", "example.co.nz"),
        ("x.y.example.com.hk", "example.com.hk"),
        # unlisted suffix degrades to the implicit * rule
        ("deep.sub.example.zz", "example.zz"),
        # bare public suffix passes through
        ("github.io", "github.io"),
        ("kobe.jp", "kobe.jp"),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "h string")
    got = [
        r.v
        for r in df.select(U.registered_domain(F.col("h")).alias("v")).collect()
    ]
    assert got == [w for _, w in cases]


def test_public_suffix_len(spark):
    cases = [
        ("example.com", 1),
        ("bbc.co.uk", 2),
        ("alice.github.io", 2),
        ("a.blogspot.co.uk", 3),
        ("x.bar.kobe.jp", 3),
        ("city.kobe.jp", 2),       # exception: kobe.jp is the suffix
        ("www.ck", 1),             # exception: ck is the suffix
        ("a.b.compute.amazonaws.com", 4),
        ("example.zz", 1),         # implicit *
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "h string")
    got = [
        r.v
        for r in df.select(U.public_suffix_len(F.col("h")).alias("v")).collect()
    ]
    assert got == [w for _, w in cases]


def test_registered_domain_hypothesis_vs_reference(spark):
    """Property test: the Catalyst substring_index/InSet formulation
    must equal an independent straightforward PSL longest-match
    implementation over randomized hosts mixing known suffixes,
    wildcard parents, exceptions and junk labels."""
    import random

    from vtk_reserves_spark.functions import psl_data as P

    def reference(host):
        if host is None:
            return None
        labels = host.split(".")
        n = len(labels)

        def tail(k):
            return ".".join(labels[-k:]) if k <= n else None

        # exception rules first (PSL: exceptions beat everything)
        ps = None
        if tail(3) in P.EXCEPTIONS_3:
            ps = 2
        elif tail(2) in P.EXCEPTIONS_2:
            ps = 1
        else:
            # longest matching rule
            if tail(3) in P.WILDCARD_PARENTS_3 and n >= 3:
                ps = 4
            elif tail(3) in P.EXACT_3 or (tail(2) in P.WILDCARD_PARENTS_2 and n >= 2):
                ps = 3
            elif tail(2) in P.EXACT_2 or labels[-1] in P.WILDCARD_PARENTS_1:
                ps = 2
            else:
                ps = 1
        take = min(ps + 1, n)
        return ".".join(labels[-take:])

    rng = random.Random(42)
    pool = (
        ["example", "www", "a", "b1", "deep"]
        + list(P.EXACT_2[:40]) + list(P.EXACT_3[:6])
        + list(P.WILDCARD_PARENTS_1) + list(P.WILDCARD_PARENTS_2)
        + list(P.WILDCARD_PARENTS_3)
        + list(P.EXCEPTIONS_2) + list(P.EXCEPTIONS_3)
        + ["com", "org", "zz", "io", "uk", "jp", "np", "ck"]
    )
    hosts = []
    for _ in range(400):
        k = rng.randint(1, 4)
        hosts.append(".".join(rng.choice(pool) for _ in range(k)))
    df = spark.createDataFrame([(h,) for h in hosts], "h string")
    got = [
        r.v
        for r in df.select(U.registered_domain(F.col("h")).alias("v")).collect()
    ]
    want = [reference(h) for h in hosts]
    mism = [(h, g, w) for h, g, w in zip(hosts, got, want) if g != w]
    assert not mism, mism[:5]


def test_ps_len_memo_keys_on_application(spark, monkeypatch):
    """The built PSL expression is memoized per Spark application (id
    and start time), not per ``id()`` of the context object: a stopped
    context's id can be reused by its successor, whose JVM would then be
    served the old application's expression."""
    sc = spark.sparkContext
    host = F.col("h")
    monkeypatch.setattr(U, "_PS_LEN_MEMO", {(id(sc), str(host)): F.lit(-1)})
    out = U._ps_len_unguarded(host)
    assert U._PS_LEN_MEMO[(sc.applicationId, sc.startTime, str(host))] is out
    assert U._ps_len_unguarded(host) is out
    df = spark.createDataFrame([("bbc.co.uk",)], "h string")
    assert df.select(out.alias("v")).first().v == 2
