package graft.sources

import graft.catalog.Listing
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Staging-source listing (reference `operations/src/staging/list_source.rs`
  * + `blob/src/opendal.rs:147-220` `list_operator`):
  *
  *  - the listing root itself never appears (`opendal.rs:190-193`);
  *  - one-level mode lists direct children (files + child directories);
  *    recursive mode yields every descendant file AND every intermediate
  *    directory, in path order;
  *  - `files_only` drops directories BEFORE offset/limit counting
  *    (`opendal.rs:196-200` — a skipped dir consumes neither);
  *  - offset skips, limit caps; `truncated` = the walk stopped at the cap,
  *    `next_offset = offset + len` only then (`list_source.rs:117-122`);
  *  - names are trailing-slash-trimmed last segments; only files carry a
  *    size (`opendal.rs:206-213`).
  *
  * Scale: the path predicate pushes into the file-catalog scan, directory
  * inference is a per-row array transform + distinct bounded by the tree
  * fan-out, and the page is a [[graft.catalog.Listing.page]] look-ahead over
  * offset+limit+1 rows — never a global sort or count over the subtree. */
object StagingList {

  /** files: (path, size, modified_ms) — the file catalog under some root. */
  def listSource(files: DataFrame, path: String, offset: Int, limit: Int,
      recursive: Boolean, filesOnly: Boolean): DataFrame = {
    val under = files.filter(col("path").startsWith(path))
      .withColumn("__rest", expr(s"substring(path, ${path.length + 1})"))
    val fileEntries =
      (if (recursive) under
       else under.filter(!col("__rest").contains("/")))
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
          col("path"), lit("File").as("kind"), col("size"),
          col("modified_ms"))
    val dirEntries =
      (if (recursive) {
        val parts = split(col("__rest"), "/")
        under.filter(col("__rest").contains("/"))
          .select(explode(transform(sequence(lit(1), size(parts) - 1),
            i => array_join(slice(parts, lit(1), i), "/"))).as("__d"))
      } else {
        under.filter(col("__rest").contains("/"))
          .select(substring_index(col("__rest"), "/", 1).as("__d"))
      })
        .distinct()
        .select(regexp_extract(col("__d"), "([^/]+)$", 1).as("name"),
          concat(lit(path), col("__d")).as("path"), lit("Directory").as("kind"),
          lit(null).cast("long").as("size"),
          lit(null).cast("long").as("modified_ms"))
    val entries =
      if (filesOnly) fileEntries else fileEntries.unionByName(dirEntries)
    Listing.page(entries, Seq(col("path")), limit, offset)
      .withColumnRenamed("is_truncated", "truncated")
      .withColumn("next_offset",
        when(col("truncated"), lit(offset + limit).cast("long")))
  }
}
