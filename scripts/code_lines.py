#!/usr/bin/env python3
"""Count code lines under src/main/scala and the env/conf reads there.

A code line is a non-blank line with something left once `//` and `/* */`
comments are removed. Comment markers inside string and character literals
do not start a comment. An env/conf read is a line matching
`sys\\.env|getConfString`.

Usage: python3 scripts/code_lines.py [repo_root]
Prints code lines per file, then the total and the env/conf read count.
"""
import pathlib
import re
import sys

# literals first, so a `//` inside a string is not taken for a comment
TOKEN = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])\''
                   r'|//[^\n]*|/\*[\s\S]*?\*/')
READS = re.compile(r"sys\.env|getConfString")


def strip_comments(text):
    def blank(m):
        s = m.group(0)
        return "\n" * s.count("\n") if s.startswith("/") else s
    return TOKEN.sub(blank, text)


def main():
    root = pathlib.Path(sys.argv[1]) if len(sys.argv) > 1 else \
        pathlib.Path(__file__).resolve().parent.parent
    total = reads = 0
    for path in sorted((root / "src/main/scala").rglob("*.scala")):
        text = path.read_text(encoding="utf-8")
        n = sum(1 for line in strip_comments(text).split("\n") if line.strip())
        total += n
        reads += sum(1 for line in text.split("\n") if READS.search(line))
        print(f"{n:6d}  {path.relative_to(root)}")
    print(f"{total:6d}  code lines in src/main/scala")
    print(f"{reads:6d}  env/conf reads (sys.env|getConfString)")


if __name__ == "__main__":
    main()
