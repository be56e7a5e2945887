"""tools/scaling.py's marker splice: SCALING.md holds the scale evidence
of every operator family, and each regeneration rewrites one section
of it. These checks need no Spark session."""

import pathlib

from tools.scaling import splice

A = "<!-- a:start -->\nold a\n<!-- a:end -->"
B = "<!-- b:start -->\nold b\n<!-- b:end -->"
DOC = "# head\n\nprose\n\n" + A + "\n\nbetween\n\n" + B + "\ntail\n"


def test_present_block_is_replaced_in_place():
    new = "<!-- a:start -->\nnew a\nsecond line\n<!-- a:end -->"
    out = splice(DOC, "a", new)
    assert out == DOC.replace(A, new)
    # bytes outside the block, the other appendix included, are kept
    assert out.startswith("# head\n\nprose\n\n")
    assert out.endswith("\n\nbetween\n\n" + B + "\ntail\n")


def test_missing_block_is_appended():
    c = "<!-- c:start -->\nc\n<!-- c:end -->"
    out = splice(DOC, "c", c)
    assert out == DOC.rstrip() + "\n\n" + c + "\n"
    assert splice(out, "c", c) == out
    assert splice("", "c", c) == c + "\n"


def test_head_regeneration_keeps_every_appendix():
    out = splice(DOC, None, "# new head\n\nnew prose")
    assert out == "# new head\n\nnew prose\n\n" + DOC[DOC.index(A):]
    assert splice("# only a head\n", None, "# new") == "# new\n"

    scaling = (pathlib.Path(__file__).parent.parent / "SCALING.md"
               ).read_text()
    first = scaling.index("<!-- streaming_profile:start -->")
    out = splice(scaling, None, "# regenerated head")
    assert out == "# regenerated head\n\n" + scaling[first:]
