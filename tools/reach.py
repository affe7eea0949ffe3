import re, sys, pathlib, collections
repo = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else ".")
def code(p):  # source without comments (strings kept: interpolations use names)
    s, out = p.read_text(), []
    tok = re.compile(r'"""[\s\S]*?"""(?!")|"(?:\\.|[^"\\\n])*"|//[^\n]*|/\*[\s\S]*?\*/|\'.\'|.', re.S)
    for m in tok.finditer(s):
        t = m.group()
        out.append(" " if t.startswith(("//", "/*")) else t)
    return "".join(out)
ident = lambda s: set(re.findall(r'[A-Za-z_]\w*', s))
main = {p: code(p) for p in sorted(repo.glob("src/main/scala/**/*.scala"))}
bench = [code(p) for p in sorted(repo.glob("perfbench/src/**/*.scala"))]
decl = re.compile(r'^\s*(?:(?:private|final|sealed|abstract|case|implicit|lazy|override)(?:\[\w+\])?\s+)*'
                  r'(?:object|class|trait)\s+(\w+)', re.M)
tops = {p: set(decl.findall(c)) for p, c in main.items()}
roots = {p for p, c in main.items() if re.search(r'\bdef main\b', c) or p.name == "SparkEntry.scala"}
seen, reached = set().union(*map(ident, bench)), set()
while True:
    new = {p for p in main if p not in reached and (p in roots or tops[p] & seen)}
    if not new: break
    reached |= new
    for p in new: seen |= ident(main[p])
gate = 0  # exit status: 1 when a FILE or FUNC line is printed; MEMBER lines are advisory
for p in sorted(set(main) - reached):
    print(f"FILE {len(p.read_text().splitlines()):5d} {p.relative_to(repo)}")
    gate = 1
# SQL functions: the registry names every one, so a name registered in
# graft/functions counts only when reached code outside that package, perfbench
# or tools names it (strings count: call_function and SQL text name them)
fdir = repo / "src/main/scala/graft/functions"
registered = {n for p, c in main.items() if fdir in p.parents
              for n in re.findall(r'FunctionIdentifier\("(\w+)"\)', c)}
named = set().union(*(ident(main[p]) for p in reached if fdir not in p.parents),
                    *map(ident, bench),
                    *(ident(p.read_text(errors="ignore"))
                      for p in repo.glob("tools/**/*") if p.is_file()))
for name in sorted(registered - named):
    print(f"FUNC {name}")
    gate = 1
# members of reached files: a name used no more often than it is declared
# (reached code + perfbench, comments skipped) is a candidate
body = "\n".join([main[p] for p in reached] + bench)
uses = collections.Counter(re.findall(r'\w+', body))
decls = collections.Counter(re.findall(r'\b(?:def|val|object|class)\s+(\w+)', body))
member = re.compile(r'^  (?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|lazy\s+|case\s+)*'
                    r'(?:def|val|object|class)\s+(\w+)', re.M)
for p in sorted(reached):
    for name in sorted(set(member.findall(main[p]))):
        if uses[name] <= decls[name] and not (name == "main" and p in roots):
            print(f"MEMBER {p.relative_to(repo)}::{name}")
sys.exit(gate)
