"""Pin the MinHash signature hash family (round-5 bug).

Round 4's `lambda x, s=s:` closure inside F.transform was silently
treated by pyspark as the (element, index) two-parameter lambda form:
the seed bound to the array-index COLUMN, the f-string baked that
Column's repr into the md5 prefix, and the signature family then
depended on the session's global lambda-variable counter — different
values for every fresh construction of the same DataFrame, and none of
them the documented md5("{seed}|" + shingle) family. (The LSH pipeline
still *worked* — any consistent hash family bands correctly, and the
exact-jaccard verify stage made final pairs match the oracle — which is
why the correctness gate never caught it.)

These tests pin (a) bit-exact equality with hashlib.md5 over the
declared family, and the production xxhash64 family to a frozen
(shingle, seed) -> value fixture, (b) stability across repeated
constructions in one session, and (c) a source lint that rejects multi-parameter lambdas in
single-argument higher-order functions anywhere in the package, so the
bug class cannot re-enter via another call site.
"""

import hashlib
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "openmldb_spark"


def _py_reference_sigs(text: str, n_hashes: int, k: int = 3):
    toks = [t for t in re.sub(r"[^a-z0-9]+", " ", text.lower()).split(" ")
            if t]
    sh = list(dict.fromkeys(
        " ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)))
    if not sh:
        return [None] * n_hashes
    return [min(hashlib.md5(f"{s}|{g}".encode()).hexdigest() for g in sh)
            for s in range(n_hashes)]


def test_minhash_sigs_match_declared_md5_family(spark):
    from openmldb_spark.pipeline.dedup import minhash_signatures
    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    exp = _py_reference_sigs(text, 8)
    got = minhash_signatures(df, "text", "doc_id", 8, 3, "md5").collect()[0]
    assert [getattr(got, f"sig{s}") for s in range(8)] == exp


# Spark's xxhash64(shingle, seed): XXH64 of the UTF-8 shingle under seed
# 42, then of the 4-byte little-endian seed under that hash, as a signed
# long. Recorded from Spark and checked against an independent XXH64
# implementation when frozen.
XXHASH64_FIXTURE = {
    ("the quick brown", 0): -7838997220450159862,
    ("the quick brown", 1): -5074273988142836622,
    ("the quick brown", 2): -7190716267515777504,
    ("the quick brown", 3): -827268025671442449,
    ("quick brown fox", 0): -9113649546742969215,
    ("quick brown fox", 1): 6228094853259067376,
    ("quick brown fox", 2): -3100053850509560024,
    ("quick brown fox", 3): -3320006386205354214,
    ("brown fox jumps", 0): -9213327934255662574,
    ("brown fox jumps", 1): -3987386839905490186,
    ("brown fox jumps", 2): 5707455461594659341,
    ("brown fox jumps", 3): -4096110640180891065,
}


def test_minhash_xxhash64_sigs_match_frozen_fixture(spark):
    """The xxhash64 family (minhash_lsh_fast, the CORRECTNESS row DuckDB
    cannot check) is pinned value by value, and each signature is the
    per-seed minimum over the document's shingles."""
    import pyspark.sql.functions as F
    from openmldb_spark.pipeline.dedup import _hash_expr, minhash_signatures
    keys = list(XXHASH64_FIXTURE)
    row = spark.range(1).select(*[
        _hash_expr(F.lit(sh), seed, "xxhash64").alias(f"h{i}")
        for i, (sh, seed) in enumerate(keys)]).first()
    assert {k: row[f"h{i}"] for i, k in enumerate(keys)} == XXHASH64_FIXTURE

    df = spark.createDataFrame([(1, "The quick, brown FOX jumps!")],
                               "doc_id long, text string")
    got = minhash_signatures(df, "text", "doc_id", 4, 3, "xxhash64").collect()[0]
    assert sorted(got.shingles) == sorted({sh for sh, _ in keys})
    assert [getattr(got, f"sig{s}") for s in range(4)] == [
        min(v for (_, seed), v in XXHASH64_FIXTURE.items() if seed == s)
        for s in range(4)]


def test_minhash_sigs_stable_across_constructions(spark):
    """Fresh DataFrame constructions must produce identical signatures
    (the round-4 bug made them depend on pyspark's lambda counter)."""
    from openmldb_spark.pipeline.dedup import minhash_signatures
    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta token{i}")
         for i in range(20)],
        "doc_id long, text string")
    snaps = []
    for _ in range(3):
        s = minhash_signatures(df, "text", "doc_id", 4, 3, "md5")
        snaps.append({r.doc_id: (r.sig0, r.sig1, r.sig2, r.sig3)
                      for r in s.collect()})
    assert snaps[0] == snaps[1] == snaps[2]


def test_no_multi_param_lambdas_in_unary_hofs():
    """F.transform/filter/exists/forall take ONE-parameter lambdas in
    this codebase; a second parameter (even a defaulted closure helper)
    switches pyspark to the (element, index) form and rebinds it to the
    index column. zip_with/aggregate/map_zip_with are legitimately
    multi-parameter and excluded."""
    unary = r"F\.(transform|filter|exists|forall)\s*\("
    bad = []
    for path in PKG.rglob("*.py"):
        src = path.read_text()
        for m in re.finditer(unary, src):
            window = src[m.start():m.start() + 200]
            # inspect only the FIRST lambda after the call — a later
            # lambda in the window may belong to a neighboring
            # legitimately-binary HOF (aggregate/zip_with)
            lm = re.search(r"lambda\s+([^:]*):", window)
            if lm and "," in lm.group(1):
                bad.append(f"{path.name}: {window[:80]!r}")
    assert not bad, (
        "multi-parameter lambda passed to a unary higher-order "
        f"function (binds the extra param to the array index): {bad}")
