"""Golden port of the reference wildcard-match scenario table
(tests/test-string_utils.cpp, "Test case sensitive wild card match in
all possible ways" + the additional found-online cases) against the
driver-side matcher functions.wildcard.wildcard_match, which now
backs the in-memory logtype dictionary probes."""

import pytest

from clp_core_spark.functions.wildcard import wildcard_match

CASES = [
    ('abcd', 'a*', True, True),
    ('abcd', '*d', True, True),
    ('abcd', '*a*', True, True),
    ('abcd', '*b*', True, True),
    ('abcd', '*d*', True, True),
    ('abcd', '*', True, True),
    ('abcd', 'a?cd', True, True),
    ('abcd', '?bcd', True, True),
    ('abcd', 'abc?', True, True),
    ('abcd', 'a??d', True, True),
    ('abcd', '??cd', True, True),
    ('abcd', 'ab??', True, True),
    ('abcd', '?bc?', True, True),
    ('abcdef', 'a?c?ef', True, True),
    ('abcd', '????', True, True),
    ('abcd', '*?bcd', True, True),
    ('abcd', '?*bcd', True, True),
    ('abcd', '*?cd', True, True),
    ('abcd', '*?cd', True, True),
    ('abcd', 'abc*?', True, True),
    ('abcd', 'abc*?', True, True),
    ('abcd', 'ab*?', True, True),
    ('abcd', 'ab?*', True, True),
    ('abcd', '*?', True, True),
    ('abcd', '?*', True, True),
    ('abcd', 'ac*', True, False),
    ('abcd', 'abc*de', True, False),
    ('abcd', 'b**d', True, False),
    ('abcd', 'a**c', True, False),
    ('abcd', 'b*?d', True, False),
    ('abcd', '?cd', True, False),
    ('abcd', 'ab?', True, False),
    ('a*cd', 'a\\*cd', True, True),
    ('a?cd', 'a\\?cd', True, True),
    ('a?c*e', 'a\\?c\\*e', True, True),
    ('a\\cd', 'a\\\\cd', True, True),
    ('abc?e', 'a*\\?e', True, True),
    ('abc*e', 'a*\\*e', True, True),
    ('abc\\e', 'a*\\\\e', True, True),
    ('\\ab\\ab\\c?ef', '*ab\\\\c\\?*', True, True),
    ('\\ab\\ab\\c*ef', '*ab\\\\c\\**', True, True),
    ('\\ab\\ab\\c\\ef', '*ab\\\\c\\\\*', True, True),
    ('ab?d', '\\ab?d', True, True),
    ('abcde', 'A?C*', False, True),
    ('abcde', 'A?c*', False, True),
    ('abcde', 'A?c*', False, True),
    ('abcccd', '*ccd', True, True),
    ('mississipissippi', '*issip*ss*', True, True),
    ('xxxx*zzzzzzzzy*f', 'xxxx*zzy*fffff', True, False),
    ('xxxx*zzzzzzzzy*f', 'xxx*zzy*f', True, True),
    ('xxxxzzzzzzzzyf', 'xxxx*zzy*fffff', True, False),
    ('xxxxzzzzzzzzyf', 'xxxx*zzy*f', True, True),
    ('xyxyxyzyxyz', 'xy*z*xyz', True, True),
    ('mississippi', '*sip*', True, True),
    ('xyxyxyxyz', 'xy*xyz', True, True),
    ('mississippi', 'mi*sip*', True, True),
    ('ababac', '*abac*', True, True),
    ('ababac', '*abac*', True, True),
    ('aaazz', 'a*zz*', True, True),
    ('a12b12', '*12*23', True, False),
    ('a12b12', 'a12b', True, False),
    ('a12b12', '*12*12*', True, True),
    ('*', '*', True, True),
    ('a*abab', 'a*b', True, True),
    ('a*r', 'a*', True, True),
    ('a*ar', 'a*aar', True, False),
    ('XYXYXYZYXYz', 'XY*Z*XYz', True, True),
    ('missisSIPpi', '*SIP*', True, True),
    ('mississipPI', '*issip*PI', True, True),
    ('xyxyxyxyz', 'xy*xyz', True, True),
    ('miSsissippi', 'mi*sip*', True, True),
    ('miSsissippi', 'mi*Sip*', True, False),
    ('abAbac', '*Abac*', True, True),
    ('abAbac', '*Abac*', True, True),
    ('aAazz', 'a*zz*', True, True),
    ('A12b12', '*12*23', True, False),
    ('a12B12', '*12*12*', True, True),
    ('oWn', '*oWn*', True, True),
    ('bLah', 'bLah', True, True),
    ('bLah', 'bLaH', True, False),
    ('a', '*?', True, True),
    ('ab', '*?', True, True),
    ('abc', '*?', True, True),
    ('a', '??', True, False),
    ('ab', '?*?', True, True),
    ('ab', '*?*?*', True, True),
    ('abcd', '?b*??', True, True),
    ('abcd', '?a*??', True, False),
    ('abcde', '?*b*?*d*?', True, True),
    ('bLah', 'bL?h', True, True),
    ('bLaaa', 'bLa?', True, False),
    ('bLah', 'bLa?', True, True),
    ('bLaH', '?Lah', True, False),
    ('bLaH', '?LaH', True, True),
    ('aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaab', 'a*a*a*a*a*a*aa*aaa*a*a*b', True, True),
    ('abababababababababababababababababababaacacacacacacacadaeafagahaiajakalaaaaaaaaaaaaaaaaaffafagaagggagaaaaaaaab', '*a*b*ba*ca*a*aa*aaa*fa*ga*b*', True, True),
    ('abababababababababababababababababababaacacacacacacacadaeafagahaiajakalaaaaaaaaaaaaaaaaaffafagaagggagaaaaaaaab', '*a*b*ba*ca*a*x*aaa*fa*ga*b*', True, False),
    ('abababababababababababababababababababaacacacacacacacadaeafagahaiajakalaaaaaaaaaaaaaaaaaffafagaagggagaaaaaaaab', '*a*b*ba*ca*aaaa*fa*ga*gggg*b*', True, False),
    ('abababababababababababababababababababaacacacacacacacadaeafagahaiajakalaaaaaaaaaaaaaaaaaffafagaagggagaaaaaaaab', '*a*b*ba*ca*aaaa*fa*ga*ggg*b*', True, True),
    ('aaabbaabbaab', '*aabbaa*a*', True, True),
    ('a*a*a*a*a*a*a*a*a*a*a*a*a*a*a*a*a*', 'a*a*a*a*a*a*a*a*a*a*a*a*a*a*a*a*a*', True, True),
    ('aaaaaaaaaaaaaaaaa', '*a*a*a*a*a*a*a*a*a*a*a*a*a*a*a*a*a*', True, True),
    ('aaaaaaaaaaaaaaaa', '*a*a*a*a*a*a*a*a*a*a*a*a*a*a*a*a*a*', True, False),
    ('abc*abcd*abcde*abcdef*abcdefg*abcdefgh*abcdefghi*abcdefghij*abcdefghijk*abcdefghijkl*abcdefghijklm*abcdefghijklmn', 'abc*abc*abc*abc*abc*abc*abc*abc*abc*abc*abc*abc*abc*abc*abc*abc*abc*', True, False),
    ('abc*abcd*abcde*abcdef*abcdefg*abcdefgh*abcdefghi*abcdefghij*abcdefghijk*abcdefghijkl*abcdefghijklm*abcdefghijklmn', 'abc*abc*abc*abc*abc*abc*abc*abc*abc*abc*abc*abc*', True, True),
    ('abc*abcd*abcd*abc*abcd', 'abc*abc*abc*abc*abc', True, False),
    ('abc*abcd*abcd*abc*abcd*abcd*abc*abcd*abc*abc*abcd', 'abc*abc*abc*abc*abc*abc*abc*abc*abc*abc*abcd', True, True),
    ('mississippi', '*issip*PI', False, True),
]


@pytest.mark.parametrize("tame,wild,case_sensitive,expected", CASES)
def test_wildcard_match_golden(tame, wild, case_sensitive, expected):
    assert wildcard_match(tame, wild, case_sensitive=case_sensitive) == expected


# test-string_utils.cpp TEST_CASE("clean_up_wildcard_search_string")
CLEANUP_CASES = [
    ("test", "test"),
    ("?est", "?est"),
    ("***t**\\*s\\?t?**", "*t*\\*s\\?t?*"),
    ("***", "*"),
    ("*?*", "*?*"),
    ("?", "?"),
    ("a\\bc\\", "abc"),
]


@pytest.mark.parametrize("raw,want", CLEANUP_CASES)
def test_clean_up_wildcard_search_string_golden(raw, want):
    from clp_core_spark.functions.wildcard import clean_up_wildcard_search_string

    assert clean_up_wildcard_search_string(raw) == want


def test_inmemory_probe_equals_distributed_probe(spark, monkeypatch):
    """The driver-memory logtype probe must return exactly the IDs the
    distributed rlike probe returns, for wildcard patterns over a
    deliberately nasty dictionary (placeholder bytes, escapes, regex
    metachars, unicode)."""
    import random

    from clp_core_spark.operators import dictionaries
    from clp_core_spark.operators.search import DictProbes

    rng = random.Random(7)
    alphabet = "ab*?\\.[](){}^$|+x \x11\x12\x13=:%飛"
    values = list({
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12)))
        for _ in range(160)
    })
    rows = [(v, i) for i, v in enumerate(values)]
    schema = "logtype string, logtype_id long"
    empty_vars = spark.createDataFrame([], "var_str string, var_id long")

    pattern_bits = ["*", "?", "a", "b*", "*x", "\\*", "\\?", "x\x11", "*a?b*"]
    patterns = {
        "".join(rng.choice(pattern_bits) for _ in range(rng.randint(1, 4)))
        for _ in range(30)
    }
    for ignore_case in (False, True):
        # a fresh, unopened dictionary per side: the driver copy is kept
        # on the DataFrame, and the bound only applies when it is taken
        mem = DictProbes(spark.createDataFrame(rows, schema), empty_vars, ignore_case)
        dist = DictProbes(spark.createDataFrame(rows, schema), empty_vars, ignore_case)
        assert dictionaries.driver_copy(mem.logtype_dict) is not None
        with monkeypatch.context() as m:
            m.setattr(dictionaries, "LOGTYPE_DRIVER_MAX", 0)  # distributed path
            assert dictionaries.driver_copy(dist.logtype_dict) is None
        probed = []
        real_probe = dist._probe

        def spy(df, value_col, id_col, pattern, exact):
            probed.append(pattern)
            return real_probe(df, value_col, id_col, pattern, exact)

        monkeypatch.setattr(dist, "_probe", spy)
        for pat in patterns:
            a = mem.logtypes(pat)
            b = dist.logtypes(pat)
            ids_a = set(a.ids if a.ids is not None
                        else [r["logtype_id"] for r in a.df.collect()])
            ids_b = set(b.ids if b.ids is not None
                        else [r["logtype_id"] for r in b.df.collect()])
            assert ids_a == ids_b, (pat, ignore_case, ids_a ^ ids_b)
        # every pattern went through the distributed rlike probe
        assert sorted(probed) == sorted(patterns)
