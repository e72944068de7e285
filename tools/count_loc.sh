#!/usr/bin/env bash
# Prints the count of non-comment, non-blank lines in src/main/scala, the
# code-size figure ROADMAP.md reports before and after a change.
# Run from anywhere: tools/count_loc.sh
set -euo pipefail
cd "$(dirname "$0")/.."
find src/main/scala -name '*.scala' -print0 | xargs -0 cat | grep -av '^\s*$' | grep -avE '^\s*(//|/\*|\*)' | wc -l
