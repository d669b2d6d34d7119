"""Mailer plan — entry point 3 (SURVEY.md §3.3;
``ConsoleAppMailer/Program.fs:45-113``).

We reproduce the engine-relevant semantics: a resumable ordered-batch read
of the emails table (sorted scan S4, distinct, high-water-mark filter F12,
take-N O4, fixups X12) plus the watermark/bad-flag state writes (K7/K8).
The SMTP send itself is out of engine scope — the batch is returned as a
DataFrame for whatever sink consumes it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.emails import mailer_fixups
from ..operators.merge import high_water_mark, set_high_water_mark


def load_templates(spark, root_dir: str) -> DataFrame:
    """S7 — recursive ``*.msg`` template enumeration
    (``DataStructure/Library.fs:49-55`` ``getAllFilesFromDir`` /
    ``allFiles``; consumed per-file by ``ConsoleAppMailer/Program.fs:52-55``).

    ``binaryFile`` source with ``recursiveFileLookup`` ≙
    ``Directory.EnumerateFiles(path, "*.msg", AllDirectories)``. Returns
    (template_name, path, content) — ``template_name`` is the full path,
    the reference's per-template watermark key (K7 joins on it)."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.msg")
        .option("recursiveFileLookup", "true")
        .load(root_dir)
    )
    return df.select(
        F.col("path").alias("template_name"),
        F.col("path"),
        F.col("content"),
    )


def delete_files(
    root_dir: str, pattern: str = "*.msg", recursive: bool = False
) -> list:
    """File janitor — ``DataStructure/Library.fs:57-68`` ``deleteFiles``:
    delete every file under ``root_dir`` matching ``pattern`` (the
    reference sweeps consumed ``*.msg`` artifacts). Mirrors the reference
    signature: a ``recursive`` flag that the mailer passes as ``false``
    (top-level only, ``SearchOption.TopDirectoryOnly``) — subdirectory
    files are left untouched unless asked. Driver-side filesystem utility,
    not a Spark job — it operates on the same local template directories
    :func:`load_templates` scans. Returns the deleted paths (the reference
    prints each; we return them for the caller)."""
    import fnmatch
    import os

    deleted = []
    for cur, dirs, files in os.walk(root_dir):
        if not recursive:
            dirs[:] = []
        for fn in files:
            if fnmatch.fnmatch(fn, pattern):
                path = os.path.join(cur, fn)
                os.remove(path)
                deleted.append(path)
    return deleted


def next_batch(
    emails: DataFrame,
    state: DataFrame,
    template_name: str,
    batch_size: int = 1000,
) -> DataFrame:
    """Ordered resumable batch: ``orderBy(email_id)`` scan, distinct on
    email text, ``email_id > watermark ∧ ¬bad_ignore_email``, take N,
    address fixups. TakeOrderedAndProject — no global sort materializes.

    The distinct keeps the MINIMUM ``email_id`` row per email text — the
    reference's ``distinctBy`` over the EmailId-sorted scan
    (``ConsoleAppMailer/Program.fs:50`` after ``DbAccess.fs:21`` orderBy)
    keeps the first occurrence, i.e. the smallest id. ``dropDuplicates``
    would keep an arbitrary row per plan, silently shifting which ids the
    watermark advances past; the window costs the same single shuffle."""
    wm = high_water_mark(state, "email_file_name", template_name)
    first = Window.partitionBy("email").orderBy("email_id")
    return (
        emails.withColumn("__rn", F.row_number().over(first))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .filter((F.col("email_id") > wm) & ~F.col("bad_ignore_email"))
        .orderBy("email_id")
        .limit(batch_size)
        .withColumn("send_address", mailer_fixups(F.col("email")))
    )


def send_groups(
    batch: DataFrame, take: int = 60, chunk_size: int = 10
) -> DataFrame:
    """Send-side cc/bcc shaping — the reference chunks each template's
    batch ``Seq.take 60 |> Seq.chunkBySize 10`` and assembles one mail per
    chunk with the members as cc/bcc (``ConsoleAppMailer/Program.fs:
    60-113,130-150``). Adds ``chunk_id`` (0-based chunk) and ``slot``
    (0-based position inside the chunk) over the email_id order, keeping
    only the first ``take`` rows. The last chunk may be short — exactly
    ``chunkBySize``'s remainder behavior.

    The global window is safe: the input is a :func:`next_batch` result,
    bounded by ``batch_size`` (≤1000 rows) — a control-sized frame, not
    corpus data."""
    w = Window.orderBy("email_id")
    return (
        batch.withColumn("__rn", F.row_number().over(w) - 1)
        .filter(F.col("__rn") < take)
        .withColumn("chunk_id", (F.col("__rn") / chunk_size).cast("long"))
        .withColumn("slot", (F.col("__rn") % chunk_size).cast("long"))
        .drop("__rn")
    )


def commit_batch(
    state: DataFrame, spark, template_name: str, last_sent_id: int
) -> DataFrame:
    """K7 — advance the high-water mark after a successful batch."""
    return set_high_water_mark(
        state, spark, "email_file_name", template_name, last_sent_id
    )


def mark_bad(emails: DataFrame, bad_ids: DataFrame) -> DataFrame:
    """K8 — ``bad_ignore_email = true`` for failed sends."""
    return (
        emails.join(
            bad_ids.select(F.col("email_id").alias("__bad_id")).distinct(),
            emails["email_id"] == F.col("__bad_id"),
            "left",
        )
        .withColumn(
            "bad_ignore_email",
            F.when(F.col("__bad_id").isNotNull(), F.lit(True)).otherwise(
                F.col("bad_ignore_email")
            ),
        )
        .drop("__bad_id")
    )
