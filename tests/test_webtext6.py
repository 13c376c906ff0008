"""UTF-8 validation (queries/webtext6.py): python state-machine mirror,
CPython bytes.decode acceptance as the external spec anchor, and named
defect-class vectors (Kuhn stress-test categories)."""

from co_new_spark.queries.webtext6 import (_N_ASCII, _TAILS,
                                           _VALID_SPAN, _built, validate_utf8)


def _mirror(bs):
    """Independent python restatement of the RFC 3629 machine."""
    err = exp = cls = w = n1 = n2 = n3 = n4 = lead = 0
    for pos, b in enumerate(bs, 1):
        if err:
            continue
        if exp:
            lo, hi = {1: (0xA0, 0xBF), 2: (0x80, 0x9F), 3: (0x90, 0xBF),
                      4: (0x80, 0x8F)}.get(cls, (0x80, 0xBF))
            if lo <= b <= hi:
                exp, cls = exp - 1, 0
                if exp == 0:
                    if w == 2: n2 += 1
                    elif w == 3: n3 += 1
                    else: n4 += 1
            else:
                err = pos
        elif b <= 0x7F:
            n1 += 1
        elif 0xC2 <= b <= 0xDF:
            exp, cls, w, lead = 1, 0, 2, pos
        elif 0xE0 <= b <= 0xEF:
            exp, w, lead = 2, 3, pos
            cls = 1 if b == 0xE0 else 2 if b == 0xED else 0
        elif 0xF0 <= b <= 0xF4:
            exp, w, lead = 3, 4, pos
            cls = 3 if b == 0xF0 else 4 if b == 0xF4 else 0
        else:
            err = pos
    if not err and exp:
        err = lead
    return (len(bs), n1, n2, n3, n4, err, 0 if err else 1)


def _run(spark, arrays):
    df = spark.createDataFrame(list(enumerate(arrays)),
                               "doc_id long, bs array<int>")
    got = validate_utf8(df).collect()
    return {r.doc_id: (r.nbytes, r.n_ascii, r.n_2byte, r.n_3byte, r.n_4byte,
                       r.err_off, r.valid) for r in got}


def test_defect_class_vectors(spark):
    """One vector per planted class + Kuhn-style extras; mirror AND CPython
    must agree with the engine on every row."""
    base = [ord(c) for c in "crawl-ok"]
    arrays = [
        base + _VALID_SPAN,                      # clean
        base + _VALID_SPAN + _TAILS[1],          # overlong C0 AF
        base + _VALID_SPAN + _TAILS[2],          # surrogate ED A0 80
        base + _VALID_SPAN + _TAILS[3],          # truncated E2 82
        base + _VALID_SPAN + _TAILS[4],          # bare continuation
        base + _VALID_SPAN + _TAILS[5],          # U+110000
        base + _VALID_SPAN + _TAILS[6],          # FE lead
        [0xE0, 0x80, 0x80],                      # overlong NUL (3-byte form)
        [0xF0, 0x80, 0x80, 0x80],                # overlong (4-byte form)
        [0xED, 0x9F, 0xBF],                      # U+D7FF — last before gap: ok
        [0xEE, 0x80, 0x80],                      # U+E000 — first after gap: ok
        [0xF4, 0x8F, 0xBF, 0xBF],                # U+10FFFF — max: ok
        [0xC2],                                  # lone lead at EOF
        [0x41, 0xC3],                            # ascii then truncated
    ]
    got = _run(spark, arrays)
    for d, bs in enumerate(arrays):
        assert got[d] == _mirror(bs), (d, bs)
        py_ok = 1
        try:
            bytes(bs).decode("utf-8")
        except UnicodeDecodeError:
            py_ok = 0
        assert got[d][6] == py_ok, (d, bs)


def test_corpus_rows_match_cpython(spark):
    """Every constructed corpus row's validity flag equals CPython's
    bytes.decode acceptance, and the planted class decides it."""
    rows = [(d, f"doc text number {d:04d} padded") for d in range(70)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    built = {r.doc_id: r.bs for r in _built(docs).collect()}
    out = validate_utf8(_built(docs)).collect()
    for r in out:
        bs = bytes(built[r.doc_id])
        try:
            bs.decode("utf-8")
            ok = 1
        except UnicodeDecodeError:
            ok = 0
        assert r.valid == ok
        assert r.valid == (1 if r.doc_id % 7 == 0 else 0)
        # the fixed valid span contributes one sequence of each width
        if r.valid:
            assert (r.n_2byte, r.n_3byte, r.n_4byte) == (
                (2, 1, 1) if r.doc_id % 2 == 0 else (1, 1, 1))
            assert r.n_ascii == _N_ASCII


def test_counts_stop_at_first_error(spark):
    # valid 2-byte, error, then a valid 4-byte that must NOT be counted
    bs = [0xC3, 0xA9, 0xFF, 0xF0, 0x9F, 0x98, 0x80]
    got = _run(spark, [bs])
    assert got[0] == (7, 0, 1, 0, 0, 3, 0)
