"""Ingest stage: sha-256 row invariant + import parsing -> import targets.

Pipeline (SURVEY.md §7 Stage 1):
    sources(repo, path, commit, lang, content)
      -> with_sha()                adds content_sha (per-row invariant,
                                   input_hint)
      -> extract_import_targets()  regexp-extracts per-lang import targets
                                   as extension-less keys (file_key form)

graph.build_graph resolves the targets against the one vertex
dictionary it builds: importer by (repo, path), target by file_key.

All parsing is JVM-side (regexp_extract_all / explode) — no Python in
the hot path. The reference's only "parser" is its ASCII adjacency
loader (/root/reference/src/ascii_graph/mod.rs:289-339); import parsing
is engine-side per the north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# per-lang import-target extraction patterns (match synth.py's syntax,
# which mirrors real python/java/c/js import forms)
_PATTERNS = {
    "python": r"from ([\w.]+) import",
    "java": r"import ([\w.]+);",
    "c": r'#include "([^"]+)"',
    "js": r'require\("([^"]+)"\)',
}


def with_sha(sources: DataFrame) -> DataFrame:
    """Attach the content sha-256 invariant column."""
    return sources.withColumn("content_sha", F.sha2(F.col("content"), 256))


def file_key(repo_col, path_col):
    """Canonical extension-less key 'repo/dir/stem' used for resolution."""
    return F.concat_ws(
        "/", repo_col, F.regexp_replace(path_col, r"\.[A-Za-z0-9]+$", "")
    )


def extract_import_targets(sources: DataFrame) -> DataFrame:
    """(repo, path, target_key) — one row per import statement."""
    pat = F.when(F.col("lang") == "python", F.lit(_PATTERNS["python"]))
    for lang in ("java", "c", "js"):
        pat = pat.when(F.col("lang") == lang, F.lit(_PATTERNS[lang]))
    raw = (
        sources.select(
            "repo",
            "path",
            "lang",
            F.explode(F.regexp_extract_all(F.col("content"), pat, F.lit(1))).alias("raw_target"),
        )
    )
    # normalize to the slash-form extension-less key:
    #   python/java dotted module -> slashes; c include -> strip .h
    target = (
        F.when(
            F.col("lang").isin("python", "java"),
            F.regexp_replace(F.col("raw_target"), r"\.", "/"),
        )
        .when(F.col("lang") == "c", F.regexp_replace(F.col("raw_target"), r"\.h$", ""))
        .otherwise(F.col("raw_target"))
    )
    return raw.select("repo", "path", target.alias("target_key"))

