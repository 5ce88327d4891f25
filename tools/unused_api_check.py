#!/usr/bin/env python3
"""Check unused_api.py's default-parameter rule on the fixture tree in
tools/unused_api_fixture, whose calls pass some defaults by name, by
position, through one of two overloads and in a second parameter list.
Exits 1 if the rule finds other default parameters, or other unpassed ones,
than the fixture holds.

Usage: python3 tools/unused_api_check.py
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import unused_api  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "unused_api_fixture")
TOTAL = 8
UNPASSED = {"Api.named(b)", "Api.positional(c)", "Api.over(b)", "Api.curried(b)"}


def main():
    _, total, unpassed = unused_api.scan(FIXTURE)
    got = {u.split(": ", 1)[1] for u in unpassed}
    ok = total == TOTAL and got == UNPASSED
    if not ok:
        print(f"expected {TOTAL} default parameters, {sorted(UNPASSED)} unpassed;")
        print(f"got {total}, {sorted(got)}")
        return 1
    print(f"fixture: {total} default parameters, {len(got)} unpassed, as expected")
    return 0


if __name__ == "__main__":
    sys.exit(main())
