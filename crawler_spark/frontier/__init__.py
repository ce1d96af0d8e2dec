"""PySpark-native URL-frontier + fetch scheduler (the north-rule engine).

Modules:
- spec       — frozen deterministic crawl semantics (single source of truth)
- synth      — deterministic synthetic web graph + robots dim (Spark-native)
- engine     — the scheduling round as a pure DataFrame job
- store      — round-snapshot warehouse with atomic commits + resume
- simulator  — pure-Python reference-semantics golden generator
- images     — image+caption payload table (binary column) + PSNR verify
"""
