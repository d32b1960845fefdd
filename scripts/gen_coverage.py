"""Generate COVERAGE.md: SURVEY.md §2 operator id -> implementing
registered queries (from registry tags) + the extension surfaces.

Usage: python scripts/gen_coverage.py
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apache_iceberg_with_clickhouse_olake_spark.operators import registry

# Non-query coverage: ops realized in module/test code rather than a
# registered query (file references, not tags).
NON_QUERY = {
    "S5": "streaming/__init__.py:run_cdc_upsert_stream + tests/test_streaming.py",
    "C2": "streaming (maxFilesPerTrigger) + tests/test_streaming.py chunked apply",
    "C6": "streaming checkpoint + tests/test_streaming.py restart-idempotence",
    "D10": "N/A in Spark (informational); partition/sort layout serves pruning "
           "(partition_pruning_roundtrip, O5 sort-on-write)",
    "D13": "session.py get_spark (AQE/Arrow/shuffle/timezone settings surface)",
    "L3": "sources/parquet.read_table (per-file-version schema record) + "
          "tests/test_table_meta.py",
}

GROUPS = [
    ("S", 7, "Scans / sources / sinks"),
    ("P", 9, "Projections / filters / predicates"),
    ("J", 3, "Joins"),
    ("A", 11, "Aggregations"),
    ("O", 5, "Sorts / limits / top-k"),
    ("U", 3, "Set operations"),
    ("F", 16, "Scalar functions"),
    ("D", 13, "DDL / DML / table management"),
    ("C", 6, "Streaming / CDC"),
    ("L", 4, "Lakehouse read features"),
]

EXTENSION_TAGS = {
    "llm-dedup": "Deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding-cosine)",
    "llm-similarity": "Similarity search (brute-force, LSH, IVF, centroids)",
    "llm-text": "Text analysis (lang-ID, quality, tokens, fingerprints, TF-IDF, heavy hitters)",
    "llm-clustering": "Clustering (distributed k-means, SemDeDup semantic dedup)",
    "llm-tokenizer": "Tokenizer induction (BPE pair stats, merge learning)",
    "llm-sessions": "Sessionization / funnels / as-of / retention",
    "llm-sampling": "Training-data sampling / mixing / sequence packing",
    "multimodal": "Multimodal columns (decode, frame-sample, energy, resize)",
}


def main() -> None:
    registry._load_all()
    by_tag = defaultdict(list)
    for name, spec in sorted(registry.REGISTRY.items()):
        for t in spec.tags:
            by_tag[t].append(name + ("" if spec.oracle else " (rows-only)"))

    lines = [
        "# COVERAGE — SURVEY.md §2 operator inventory -> implementation",
        "",
        "Auto-generated by scripts/gen_coverage.py from registry tags.",
        f"{len(registry.REGISTRY)} registered queries; names without a",
        "marker are DuckDB-oracle-checked by the driver.",
        "",
    ]
    for prefix, n, title in GROUPS:
        lines += [f"## {title}", "", "| op | implementation |", "|---|---|"]
        for i in range(1, n + 1):
            op = f"{prefix}{i}"
            if by_tag.get(op):
                impl = ", ".join(f"`{q}`" for q in by_tag[op])
            elif op in NON_QUERY:
                impl = NON_QUERY[op]
            else:
                impl = "—"
            lines.append(f"| {op} | {impl} |")
        lines.append("")
    lines += ["## Extension surfaces (north-star)", ""]
    for tag, title in EXTENSION_TAGS.items():
        qs = ", ".join(f"`{q}`" for q in by_tag.get(tag, []))
        lines += [f"**{title}**: {qs}", ""]
    with open("COVERAGE.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    missing = [
        f"{p}{i}"
        for p, n, _ in GROUPS
        for i in range(1, n + 1)
        if not by_tag.get(f"{p}{i}") and f"{p}{i}" not in NON_QUERY
    ]
    print("wrote COVERAGE.md; uncovered:", missing or "none")


if __name__ == "__main__":
    main()
