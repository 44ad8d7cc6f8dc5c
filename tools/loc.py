#!/usr/bin/env python3
"""Track the size of graft's main code and its JVM-global knobs.

Prints six numbers, one per line:

  main_loc     non-blank, non-comment lines of src/main/scala
               (`//` comments and `/* ... */` blocks, Scaladoc
               included, are stripped; string literals, oracle SQL
               among them, count as code)
  logic_loc    main_loc without every line that holds any part of a
               triple-quoted string literal (the oracle SQL and the
               mains' JSON templates)
  graft_props  `sys.props` reads of `graft.*` keys in src/main
  graft_env    `sys.env` reads of `SPARK_GRAFT_*` keys in src/main
  mains        src/main files that define `def main`
  pins         `.localCheckpoint(` calls in src/main/scala (comments
               stripped)

Usage: python3 tools/loc.py [repo_root]
"""
import pathlib
import re
import sys

PROP_READ = re.compile(
    r'sys\.props\s*(?:\.\s*(?:get|getOrElse|contains|apply)\s*)?\(\s*"graft\.')
ENV_READ = re.compile(
    r'sys\.env\s*(?:\.\s*(?:get|getOrElse|contains|apply)\s*)?\(\s*"SPARK_GRAFT_')
MAIN_DEF = re.compile(r'\bdef\s+main\b')
CHAR_LIT = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'")


def strip_comments(text, triple=lambda lit: lit):
    """`text` with every comment removed; string and char literals are
    kept verbatim, so a `/*` inside SQL text opens no comment. Each
    triple-quoted literal is replaced by `triple(literal)`."""
    out = []
    i, n, depth = 0, len(text), 0
    while i < n:
        if depth:  # inside a (nestable) block comment
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                if text[i] == "\n":
                    out.append("\n")
                i += 1
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
        elif text.startswith("//", i):
            end = text.find("\n", i)
            i = n if end < 0 else end
        elif text.startswith('"""', i):
            end = text.find('"""', i + 3)
            end = n if end < 0 else end + 3
            while end < n and text[end] == '"':  # """..."""" closes last
                end += 1
            out.append(triple(text[i:end]))
            i = end
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            out.append(text[i:j + 1])
            i = j + 1
        elif text[i] == "'" and CHAR_LIT.match(text, i):
            m = CHAR_LIT.match(text, i)
            out.append(m.group(0))
            i = m.end()
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


def main():
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else ".")
    main_dir = root / "src" / "main"
    code = [strip_comments(f.read_text("utf-8"))
            for f in sorted((main_dir / "scala").rglob("*.scala"))]
    loc = sum(sum(1 for line in c.splitlines() if line.strip()) for c in code)
    # every character of a triple-quoted literal becomes NUL (newlines
    # kept), so a line holding any part of one is recognizable
    masked = [strip_comments(f.read_text("utf-8"),
                             lambda lit: re.sub(r"[^\n]", "\0", lit))
              for f in sorted((main_dir / "scala").rglob("*.scala"))]
    logic = sum(sum(1 for line in c.splitlines()
                    if line.strip() and "\0" not in line) for c in masked)
    texts = [f.read_text("utf-8")
             for f in sorted(main_dir.rglob("*")) if f.is_file()]
    print(f"main_loc {loc}")
    print(f"logic_loc {logic}")
    print(f"graft_props {sum(len(PROP_READ.findall(t)) for t in texts)}")
    print(f"graft_env {sum(len(ENV_READ.findall(t)) for t in texts)}")
    print(f"mains {sum(1 for t in texts if MAIN_DEF.search(t))}")
    print(f"pins {sum(c.count('.localCheckpoint(') for c in code)}")


if __name__ == "__main__":
    main()
