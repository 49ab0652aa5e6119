"""Word-per-line text corpus source with per-file 1-based line numbers.

Reference semantics being reproduced (verified golden-exact, SURVEY.md
Appendix A): the producer reads one file sequentially (mapreduce.c:107),
stamps each record with the verbatim filename (mapreduce.c:121) and a
1-based line ordinal that is incremented for EVERY physical line,
including lines later dropped as empty (increment at mapreduce.c:109
precedes the skip at 112-114).

DataFrames have no row order, so per-file ordinals are the one place
the reference's semantics need deliberate engineering (SURVEY.md §7).
Each file is read whole — one row per file — then ``posexplode``
runs over the split lines. The ordinal is the explode position, computed
*before* any filtering, exactly like the reference. One file = one
row = one task; parallelism = #files, which is precisely the
reference's map-side DOP (``-p`` spawns one producer per file,
mapreduce.c:307-313). At 100 TB the corpus is many files (the normal
shape for training corpora), not few giant ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The reference's line buffer is MAXLEN=50 (mapreduce.c:19,105), so
# each fgets call returns at most 49 bytes — a longer physical line
# becomes SEVERAL records, each incrementing linenum (mapreduce.c:109).
FGETS_BUF = 49


def read_word_per_line(spark: SparkSession, paths: str | list[str],
                       strict_fgets: bool = False) -> DataFrame:
    """Read text file(s) → DataFrame[filename, linenum, raw_line].

    ``linenum`` is the 1-based physical line ordinal per file and is
    assigned BEFORE any normalization/filtering (mapreduce.c:109).
    A single trailing newline does not create a phantom final line
    (fgets never yields one, mapreduce.c:107).

    ``strict_fgets=True`` additionally replicates the reference's
    49-byte read buffer (SURVEY.md §1.3 quirk #2): each fgets(50) call
    is one numbered record, so a physical line of L bytes (+ newline)
    yields ceil((L+1)/49) records — the trailing record holding only
    the newline when L is an exact multiple of 49. The committed
    reference corpus never exceeds 49 bytes per line, so the default
    path is golden-identical there; strict mode exists for byte-level
    parity on corpora the reference would truncate.
    """
    if isinstance(paths, str):
        paths = [paths]
    # binaryFile + Latin-1 decode, NOT spark.read.text: the text source
    # strips a leading UTF-8 BOM, but the reference reads raw bytes
    # (fgets, mapreduce.c:107) and its golden output depends on the BOM
    # line surviving as a (dropped-but-numbered) line. Latin-1 maps
    # every byte 1:1, exactly like the C char buffer.
    txt = F.decode("content", "ISO-8859-1")
    raw_lines = F.split(txt, "\n")
    # Drop exactly one trailing empty element when the file ends with
    # \n, so "a\n" is 1 line as fgets sees it. An explicit slice, NOT
    # regexp_replace('\n$'): Java's $ also matches before a FINAL line
    # terminator, so on a file ending "\r\n\r\n" it would strip two
    # newlines and lose the last (empty, but numbered) line.
    lines = F.when(
        txt.endswith("\n"),
        F.slice(raw_lines, F.lit(1), F.size(raw_lines) - 1),
    ).otherwise(raw_lines)
    whole = spark.read.format("binaryFile").load(paths).select(
        F.col("path").alias("filename"),
        lines.alias("lines"),
        txt.endswith("\n").alias("ends_nl"),
    )
    if strict_fgets:
        # One record per fgets(50) call: chunk every physical line into
        # 49-byte reads; the newline counts as the +1 byte of the final
        # read (it lands in the buffer and trims away downstream), so a
        # line whose content length is an exact multiple of 49 gets one
        # extra record holding just the newline. Pure expression — the
        # flatten preserves file order, so posexplode positions ARE the
        # fgets call ordinals.
        all_chunks = F.expr(f"""
            flatten(transform(lines, (line, i) ->
                CASE WHEN length(line)
                          + IF(i < size(lines) - 1 OR ends_nl, 1, 0) = 0
                     THEN array()
                     ELSE transform(
                         sequence(0,
                             cast(ceil((length(line)
                                 + IF(i < size(lines) - 1 OR ends_nl,
                                      1, 0)) / {FGETS_BUF}.0) as int) - 1),
                         j -> substring(line, j * {FGETS_BUF} + 1,
                                        {FGETS_BUF}))
                END))
        """)
        whole = whole.select("filename", all_chunks.alias("lines"))
    else:
        whole = whole.select("filename", "lines")
    return whole.select(
        "filename",
        F.posexplode("lines").alias("pos0", "raw_line"),
    ).select(
        "filename",
        (F.col("pos0") + 1).cast("int").alias("linenum"),
        "raw_line",
    )

