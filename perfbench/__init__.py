"""Layered checkpointed-crawl benchmark (see NOTES.md; entry point run.py)."""

import hashlib
import os
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def source_hash(*names: str) -> str:
    """Short SHA-256 of these ``crawler_spark/frontier`` source files. It is
    part of each cache key, so a changed source remakes what was cached
    from it."""
    h = hashlib.sha256()
    for name in names:
        with open(os.path.join(ROOT, "crawler_spark", "frontier", name),
                  "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
