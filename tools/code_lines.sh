#!/usr/bin/env bash
# Count the code lines of the Scala sources under a directory: lines that
# hold at least one character outside a comment. Blank lines, `//` line
# comments and `/* */` block comments do not count; Scala block comments
# nest, and comment markers inside string and character literals are
# code. Prints one number.
#
#   tools/code_lines.sh [dir]    # dir defaults to src/main
set -euo pipefail
dir="${1:-$(dirname "$0")/../src/main}"
find "$dir" -name '*.scala' -print0 | xargs -0 python3 -c '
import sys

Q, TQ = "\"", "\"\"\""

def code_lines(text):
    n, i, depth, has_code = 0, 0, 0, False
    state = "code"  # code | line | block | str | triple
    while i < len(text):
        c = text[i]
        if c == "\n":
            n += has_code
            has_code = False
            state = "code" if state == "line" else state
            i += 1
        elif state == "line":
            i += 1
        elif state == "block":
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
                state = "code" if depth == 0 else state
            else:
                i += 1
        elif state == "str":
            has_code = True
            i += 2 if c == "\\" else 1
            state = "code" if c == Q else state
        elif state == "triple":
            has_code = has_code or not c.isspace()
            if text.startswith(TQ, i):
                while text.startswith(Q + TQ, i):
                    i += 1
                i, state = i + 3, "code"
            else:
                i += 1
        elif text.startswith("//", i):
            state = "line"
        elif text.startswith("/*", i):
            state, depth, i = "block", 1, i + 2
        else:
            has_code = has_code or not c.isspace()
            if text.startswith(TQ, i):
                state, i = "triple", i + 3
            elif c == Q:
                state, i = "str", i + 1
            elif c == "\x27" and text[i + 1:i + 2] == "\\":
                # an escaped character literal, skipped whole so that a
                # quote inside it is not taken for a string
                end = text.find("\x27", i + 3)
                i = end + 1 if end != -1 else i + 1
            elif c == "\x27" and text[i + 2:i + 3] == "\x27":
                i += 3
            else:
                i += 1
    return n + has_code

print(sum(code_lines(open(p, encoding="utf-8").read()) for p in sys.argv[1:]))
'
