#!/usr/bin/env python
"""Print one line per registered oracle: its query name, then the
sha256 of its SQL with all whitespace removed.

Run it on two checkouts and ``diff`` the outputs to see which oracle
texts a change touched (reformatting alone leaves a digest unchanged):

    python tools/oracle_digest.py > a.txt   # in each checkout
    diff a.txt b.txt
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__  # noqa: E402


def main() -> None:
    for name, sql in __spark_entry__.oracle_sql().items():
        digest = hashlib.sha256("".join(sql.split()).encode()).hexdigest()
        print(f"{name} {digest}")


if __name__ == "__main__":
    main()
