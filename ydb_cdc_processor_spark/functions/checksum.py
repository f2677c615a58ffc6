"""Order-independent table checksums for CDC sink verification.

A CDC pipeline's operational question is "does the sink now equal the
source?" — the reference answers it only indirectly (row counts on the
status page, WebController.java:25-84).  A content checksum answers it
directly: hash every row to an integer, SUM the integers.  Addition is
commutative, so the digest is independent of row order, partitioning,
and engine — two tables are (overwhelmingly likely) equal iff their
(row_count, digest) pairs match, and the digest of a UNION of disjoint
shards is the sum of shard digests, so incremental maintenance is one
add per micro-batch.

Injectivity: each field is hashed SEPARATELY to a fixed-width 32-char
md5 hex block (NULL → a 32-char marker outside md5's [0-9a-f] output
alphabet), and the row digest hashes the concatenation of those blocks.
Because every block has the same width and the NULL marker cannot be
produced by md5, distinct rows map to distinct pre-images — the only
possible collisions are md5 collisions themselves.  (A naive
separator-join serialization is NOT injective: a field value containing
the separator character forges field boundaries before hashing.)

Scale shape: a codegen'd projection + a single global SUM — map-side
partial aggregation collapses each task to one 128-bit partial, the
exchange carries #partitions rows.  No sort, no collect of data rows.

Cross-engine exactness: the per-row integer is the first 15 hex chars
of md5 (60 bits, exact in BIGINT); the sum is DECIMAL(38,0), rendered
as a canonical STRING in the output — DuckDB's BIGINT sum widens to
HUGEINT whose pandas conversion goes through float64 and silently
loses precision above 2^53, so the comparable form is the decimal
string, never a native numeric.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ydb_cdc_processor_spark.operators.bucketed_view import (
    mutate_manifest, read_manifest, record_token, skip_replay)

#: 32-char NULL block — 'N' is outside md5's hex output alphabet, so no
#: field digest can ever equal it.  Must match the oracle's repeat('N',32).
NULL_BLOCK = "N" * 32

#: Digest FORMAT VERSION, emitted with every checksum so persisted
#: baselines fail LOUDLY on format changes instead of comparing unequal.
#: History — compare digests only within the same tag:
#:   (untagged)   round-6: separator-join serialization, DECIMAL digest.
#:                NOT injective and numerically incomparable cross-engine;
#:                any stored digest from then is incompatible with later
#:                formats (equal tables WILL read as a mismatch).
#:   "cksum-v2"   round-7+: per-field md5 blocks (injective), digest
#:                rendered as a canonical decimal STRING.
DIGEST_FORMAT = "cksum-v2"


def row_digest(cols: list[Column]) -> Column:
    """60-bit integer hash of the injective row serialization:
    ``md5(md5(c1) || md5(c2) || ...)`` with each NULL field encoded as
    the fixed-width ``NULL_BLOCK``.  Callers must cast non-string
    columns to a canonical string form themselves (casts differ per
    type; digest equality requires the caller to pick ONE canonical
    rendering)."""
    blocks = [F.coalesce(F.md5(c.cast("string").cast("binary")),
                         F.lit(NULL_BLOCK)) for c in cols]
    joined = F.concat(*blocks) if len(blocks) > 1 else blocks[0]
    return F.conv(F.substring(F.md5(joined.cast("binary")), 1, 15),
                  16, 10).cast("long")


def table_checksum(df: DataFrame, cols: list[str]) -> DataFrame:
    """One-row digest of ``df[cols]``: ``(n_rows BIGINT, digest STRING,
    fmt STRING)`` — the digest is DECIMAL(38,0) rendered canonically as
    a string so it compares exactly across engines (see module
    docstring).  Equal digests + equal counts ⇒ equal multisets of rows
    (up to md5 collisions).  Compare source vs sink, or yesterday vs
    today, with two cheap scans and an equality check.

    ``fmt`` carries :data:`DIGEST_FORMAT` so a digest persisted as a
    baseline is self-describing: comparing rows with different ``fmt``
    tags is a format break, not a data mismatch — check it FIRST (the
    round-6 → round-7 serialization change made all older stored
    digests silently incomparable; the tag turns that failure mode into
    an explicit signal)."""
    d = row_digest([F.col(c) for c in cols])
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(d.cast("decimal(38,0)")).cast("string").alias("digest"),
        F.lit(DIGEST_FORMAT).alias("fmt"))


class ChecksumView:
    """Incrementally-maintained table checksum over a keyed CDC view —
    the "does the sink still equal the source" health check at O(batch)
    per micro-batch instead of a full sink scan.

    Addition is commutative and shard-additive (module docstring), so::

        digest(view') = digest(view) + Σ digest(new rows)
                                     − Σ digest(old images)

    with the same ``(new_rows, old_rows)`` feed the engine already
    computes for :class:`~ydb_cdc_processor_spark.operators.agg_view.
    AggregateView` — pass a ChecksumView in ``CdcBatchEngine(agg_views=
    [...])`` and it rides the identical key-pruned old-image lookup and
    per-batch ``apply_delta`` call (duck-typed contract).

    State: ``(n_rows, digest, fmt)`` in the manifest
    ``<path>/_buckets.json``, committed with the batch token by one
    ``storage.replace_text``
    (:func:`~ydb_cdc_processor_spark.operators.bucketed_view.
    mutate_manifest`); the running digest is an arbitrary-precision
    Python int, so it never overflows no matter the table size.  Replays
    follow every store's rule (:func:`~ydb_cdc_processor_spark.operators.
    bucketed_view.skip_replay`): an applied token is skipped whole, a
    committed-then-evicted sequenced token raises.  Only an absent
    manifest reads as the zero state; any other read error propagates.

    Verification (:meth:`matches`) compares against a FULL recompute via
    :func:`table_checksum` — run it on whatever cadence a full sink
    scan is affordable; between runs the incremental digest answers the
    question per batch for the price of hashing the batch."""

    def __init__(self, spark: SparkSession, path: str, cols: list[str]):
        if not cols:
            raise ValueError("cols must be non-empty")
        self.spark = spark
        self.path = path
        self.cols = list(cols)

    # -- state ---------------------------------------------------------------

    def _manifest(self) -> dict:
        """The committed manifest, behind the format fence: a state
        written under another digest format raises before any caller —
        the replay decision in :meth:`apply_delta` included — can use
        it (a replayed token must not silently keep an incomparable
        old-format digest alive)."""
        doc = read_manifest(self.path)
        fmt = doc.get("fmt")
        if doc and fmt != DIGEST_FORMAT:
            raise ValueError(
                f"checksum state at {self.path} has format {fmt!r},"
                f" this build writes {DIGEST_FORMAT!r} — digests across"
                " formats are incomparable; drop the state and re-baseline")
        return doc

    def read(self) -> dict:
        """``{"n_rows": int, "digest": str, "fmt": str, "batch_token":
        str | None}`` of the maintained state (zeros for a never-written
        view); ``batch_token`` is the last applied token.  Raises on a
        format-tag mismatch."""
        doc = self._manifest()
        tokens = doc.get("applied_tokens") or [None]
        return {"n_rows": int(doc.get("n_rows", 0)),
                "digest": str(doc.get("digest", "0")),
                "fmt": DIGEST_FORMAT, "batch_token": tokens[-1]}

    # -- maintenance ---------------------------------------------------------

    def apply_delta(self, new_rows: DataFrame | None,
                    old_rows: DataFrame | None,
                    batch_token: str | None = None) -> None:
        """One maintenance step — same contract as
        ``AggregateView.apply_delta``: +digests of the post-transform
        upserted rows, −digests of the PREVIOUS images of every touched
        key (read from the row view before its merge).  One signed agg
        over |batch| + |old images| rows → a 1-row collect."""
        if skip_replay(self._manifest(), batch_token,
                       f"checksum view {self.path}"):
            return
        parts = []
        d = row_digest([F.col(c) for c in self.cols]).cast("decimal(38,0)")
        if new_rows is not None:
            parts.append(new_rows.select(F.lit(1).alias("_sgn"),
                                         d.alias("_d")))
        if old_rows is not None:
            parts.append(old_rows.select(F.lit(-1).alias("_sgn"),
                                         d.alias("_d")))
        if not parts:
            return
        contrib = parts[0]
        for p in parts[1:]:
            contrib = contrib.unionByName(p)
        row = contrib.agg(
            F.sum("_sgn").cast("long").alias("dn"),
            F.sum(F.col("_sgn") * F.col("_d")).alias("dd")).collect()[0]

        def commit(doc: dict) -> None:
            doc["n_rows"] = int(doc.get("n_rows", 0)) + int(row["dn"] or 0)
            doc["digest"] = str(int(doc.get("digest", "0"))
                                + int(row["dd"] or 0))
            doc["fmt"] = DIGEST_FORMAT
            if batch_token is not None:
                record_token(doc, batch_token)
        mutate_manifest(self.path, commit)

    # -- verification --------------------------------------------------------

    def matches(self, df: DataFrame) -> bool:
        """Full-recompute check: does the maintained (n_rows, digest)
        equal :func:`table_checksum` of ``df[cols]`` right now?  SQL SUM
        over zero rows is NULL — an empty table's recomputed digest
        normalizes to "0" so a legitimately-empty view matches the
        maintained zero state instead of raising a false alarm."""
        full = table_checksum(df, self.cols).collect()[0]
        cur = self.read()
        full_digest = full["digest"] if full["digest"] is not None else "0"
        return (cur["n_rows"] == full["n_rows"]
                and cur["digest"] == full_digest)
