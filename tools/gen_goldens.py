#!/usr/bin/env python3
"""Golden-fixture generator.

Builds the deterministic synthetic transcript corpus (seed=42, per
FIXTURES.md) and runs the REFERENCE's pure-Python text pipeline over it
(the live path: smartglass_ocr.py:586-653 + :1212-1246 +
routes.py:976-981) to produce per-turn goldens. The Scala engine's
`sbt -batch test` asserts byte equality against these.

Reference modules are imported via a shim package (the real package
__init__ pulls in cv2, unavailable here — and unneeded: the text half
is pure stdlib). NLTK is absent, which forces the deterministic regex
paths (text_processing.py:1877-1882, 2315-2344).

Usage: python3 tools/gen_goldens.py
Writes: src/test/resources/corpus.jsonl, goldens.jsonl
"""
import ast
import json
import os
import random
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
REF = "/root/reference"

SHIM_MODS = ("model.py", "text_processing.py", "information_extraction.py")
# every reference file read at import; without them, one line and exit
for need in (*(os.path.join(REF, "lib", mod) for mod in SHIM_MODS),
             os.path.join(REF, "app", "api", "utils.py"),
             os.path.join(REF, "app", "core", "markdown_formatter.py")):
    if not os.path.exists(need):
        sys.exit(f"gen_goldens: reference checkout REF={REF} lacks {need}")

# --- shim package so `from .model import ...` works without cv2 ---------
SHIM = os.path.join(HERE, "_refshim")
os.makedirs(SHIM, exist_ok=True)
open(os.path.join(SHIM, "__init__.py"), "w").close()
for mod in SHIM_MODS:
    dst = os.path.join(SHIM, mod)
    # lexists: the committed links dangle until REF is checked out
    if not os.path.lexists(dst):
        os.symlink(os.path.join(REF, "lib", mod), dst)
sys.path.insert(0, HERE)

from _refshim import text_processing as tp  # noqa: E402
from _refshim import information_extraction as ie  # noqa: E402
from _refshim.model import ImageType  # noqa: E402

assert not tp.NLTK_AVAILABLE, "NLTK must be absent for deterministic goldens"

# clean_response_text: execute the reference's own function body
# (app/api/utils.py:97-122) without importing its flask-heavy module.
src = open(os.path.join(REF, "app", "api", "utils.py")).read()
tree = ast.parse(src)
fn = next(n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)
          and n.name == "clean_response_text")
ns = {"re": re}
exec(compile(ast.Module(body=[fn], type_ignores=[]), "<ref>", "exec"), ns)
clean_response_text = ns["clean_response_text"]

TOOL_TO_TYPE = {
    "receipt": ImageType.RECEIPT,
    "id_card": ImageType.ID_CARD,
    "form": ImageType.FORM,
    "table": ImageType.TABLE,
    "signage": ImageType.SIGNAGE,
    "book_page": ImageType.BOOK_PAGE,
    "scientific": ImageType.SCIENTIFIC,
}

def image_type_for(tool):
    return TOOL_TO_TYPE.get(tool, ImageType.DOCUMENT)

# --- markdown formatter (app/core/markdown_formatter.py) -----------------
# Imported standalone (json/re/datetime only); the clock is frozen per
# turn so the artifact is deterministic.
import importlib.util as _ilu
import datetime as _dt

_spec = _ilu.spec_from_file_location(
    "ref_markdown", os.path.join(REF, "app", "core", "markdown_formatter.py"))
ref_markdown = _ilu.module_from_spec(_spec)
_spec.loader.exec_module(ref_markdown)

class _FrozenDatetime:
    _now = _dt.datetime(2023, 11, 14, 22, 13, 20)
    @classmethod
    def set(cls, ts_ms):
        cls._now = _dt.datetime.utcfromtimestamp(ts_ms / 1000.0)
    @classmethod
    def now(cls):
        return cls._now

ref_markdown.datetime = _FrozenDatetime

def render_markdown(ts_ms, tool, g_raw):
    """Assemble the results dict exactly as process_file does right
    before _save_markdown_file (smartglass_ocr.py:628-653, 1212-1246)
    and render it with the reference formatter."""
    it = image_type_for(tool)
    results = {
        "status": g_raw["status"],
        "text": g_raw["formatted"],
        "confidence": 100.0,
        "metadata": {
            "detected_language": g_raw["lang"],
            "structured_info": g_raw["_structured_live"],
            "image_type": it.value,
            "best_engine": "transcript",
            "processing_time_ms": 0.0,
        },
    }
    if g_raw["structure"] is not None:
        results["summary"] = g_raw["_summary_raw"]
        results["document_structure"] = g_raw["structure"]
        if g_raw["_insights_raw"] is not None:
            results["key_insights"] = g_raw["_insights_raw"]
    else:
        results["summary"] = ""
    _FrozenDatetime.set(ts_ms)
    conv, idx = g_raw["conv_id"], g_raw["turn_idx"]
    return ref_markdown.MarkdownFormatter.format_ocr_results(
        results, f"{conv}_{idx}")

# --- the live path -------------------------------------------------------

def run_live_path(text, tool):
    it = image_type_for(tool)
    raw = text if text else ""
    if len(raw) > 10:  # smartglass_ocr.py:587
        tp.detect_language(raw)  # result only checked against 'ind' — dead
        corrected = tp.post_process_text(raw, it)
    else:
        corrected = raw
    formatted = tp.format_text(corrected, None)
    lang = tp.detect_language(formatted)
    structured = ie.extract_structured_info(formatted, it) if formatted else None
    status = "poor_quality" if len(formatted.strip()) < 5 else "success"
    summary, structure, insights = "", None, None
    if status == "success" and formatted:
        summary = tp.generate_summary(formatted, max_length=200, style="concise")
        structure = tp.detect_document_structure(formatted).value
        if len(formatted) > 200:
            insights = tp.extract_key_insights(formatted)
    return {
        "status": status,
        "formatted": formatted,
        "text": clean_response_text(formatted),
        "lang": lang,
        "structure": structure,
        "summary": clean_response_text(summary),
        "insights": [clean_response_text(i) for i in insights] if insights is not None else None,
        "structured": flatten(structured, it),
        "structured_kind": kind_name(it) if structured is not None else None,
        "_summary_raw": summary,
        "_insights_raw": insights,
        "_structured_live": structured,
    }

def kind_name(it):
    if it in (ImageType.ID_CARD, ImageType.RECEIPT, ImageType.FORM, ImageType.TABLE):
        return it.value
    return "generic"

FS, RS, KV = "\x01", "\x02", "\x03"

def flatten(info, it):
    """Must mirror graft.Extractor.flattenStructured exactly."""
    if info is None:
        return None
    out = {}
    if it == ImageType.RECEIPT:
        for k, v in info.items():
            if k != "items":
                out[k] = v
        out["items"] = RS.join(
            f"{i['name']}{FS}{i['quantity']}{FS}{i['price']}" for i in info["items"])
    elif it == ImageType.TABLE:
        out["headers"] = FS.join(info["headers"])
        out["rows"] = RS.join(FS.join(f"{k}{KV}{v}" for k, v in r.items())
                              for r in info["rows"])
    else:
        out = dict(info)
    return out

# --- corpus --------------------------------------------------------------

rng = random.Random(42)

WORDS = ("the quick brown fox jumps over lazy dog while many people "
         "consider important results from this significant analysis and "
         "other key findings that will improve the main process for "
         "every system with more time and better use of all data now "
         "just like some other primary critical essential work").split()

ID_WORDS = ("yang dengan dan untuk dari pada adalah ini itu dalam tidak "
            "akan saya kami mereka bisa oleh jika telah sudah harus dapat "
            "karena kepada maka tentang setiap seperti juga ada sebuah "
            "tersebut anda sangat kemudian saat selama masih lebih belum "
            "ketika kita baru perlu data sistem proses hasil").split()

def sentence(n, words=WORDS, end="."):
    ws = [rng.choice(words) for _ in range(n)]
    s = " ".join(ws)
    return s[0].upper() + s[1:] + end

def paragraph(ns):
    return " ".join(sentence(rng.randint(6, 14)) for _ in range(ns))

def make_plain(i):
    return sentence(rng.randint(3, 8))

def make_document(i):
    paras = [paragraph(rng.randint(2, 4)) for _ in range(rng.randint(3, 5))]
    t = "\n\n".join(paras)
    variants = []
    if i % 3 == 0:
        t = t.replace(" the ", " tbe ", 1)  # left as-is by live path (no dict fix)
        t += "\n\n\nExtra   spaced line with ba11 and 1O0 and 5Z counts."
    if i % 3 == 1:
        t = "Intro line with hyphen-\nbreak continuing here.\n\n" + t
        t += "\nA ''quoted'' remark and ,,another,, plus `tick`."
    if i % 3 == 2:
        t = t + "\n\nEmoji tail \U0001F600 and ‣ bullet ▪ marks • here."
    return t

def make_headers(i):
    secs = []
    for h in ("INTRODUCTION", "METHODS AND DATA", "RESULTS", "CONCLUSION")[:rng.randint(3, 4)]:
        secs.append(h + "\n\n" + paragraph(rng.randint(1, 3)))
    return "\n\n".join(secs)

def make_bullets(i):
    marks = ["•", "-", "*", "+", "1.", "2.", "3.", "4)", "5)"]
    lines = []
    for j in range(rng.randint(6, 10)):
        m = marks[j % len(marks)]
        lines.append(f"{m} {sentence(rng.randint(3, 7), end='')}")
        if j % 3 == 0:
            lines.append("   continuation of the item above")
    return "\n".join(lines)

def make_table(i):
    if i % 3 == 0:
        rows = ["Name | Qty | Price | Status"]
        rows.append("---- | --- | ----- | ------")
        for j in range(6 + i % 3):
            rows.append(f"Item{j} | {j+1} | {j*3+1}.50 | ok")
        return "\n".join(rows)
    elif i % 3 == 1:
        rows = ["Name\tQty\tPrice"]
        for j in range(6):
            rows.append(f"Widget{j}\t{j+2}\t{j*2+1}.25")
        return "\n".join(rows)
    else:
        rows = ["Name      Qty   Price",
                "-----     ---   -----"]
        for j in range(6):
            rows.append(f"Part{j}     {j+1}     {j+4}.00")
        return "\n".join(rows)

def make_form(i):
    lines = [
        "APPLICATION FORM",
        f"first name   Andi{i}",
        "last name: Wijaya",
        "address  12 Garden Street",
        "city: Springfield",
        f"email: user{i}@example.com",
        "phone  555-0134",
        "date of birth: 12/3/1990",
        "gender: M",
        "occupation  engineer",
        "[x] subscribed  [] promotions",
    ]
    if i % 2 == 0:
        lines.append("company: Acme Corp")
        lines.append("department  Research")
    return "\n".join(lines)

def make_receipt(i):
    garble = i % 2 == 0
    lines = [
        f"MARKET STORE #{i}",
        "DATE: 12/05/24  TIME: 14:3{}".format(i % 10),
        "DESCRIPTION",
        "Coffee Beans 2 7.50",
        "Milk 1 2.25",
        f"Bread Loaf {2 + i % 2} 3.00",
        "SUBTOTAI: 12.75" if garble else "SUBTOTAL: 12.75",
        "TAX 1.02",
        "TOTAI 13.77" if garble else "TOTAL 13.77",
        "CASI-I PAYMENT" if garble else "CASH PAYMENT",
        "THANI< YOU" if garble else "THANK YOU",
    ]
    return "\n".join(lines)

def make_id_card(i):
    nik = "".join(str((i * 7 + k) % 10) for k in range(16))
    lines = [
        "PROVINSI JAWA BARAT",
        f"NIK : {nik[:4]} {nik[4:8]} {nik[8:12]} {nik[12:]}",
        f"NAME  Budi Santoso {i}",
        "TEMPAT TGL LAHIR  BANDUNG, 1/2/95",
        "JENIS KELAMIN: LAKI-LAKI",
        "ALAMAT  JL. MERDEKA NO. 10",
        "AGAMA  ISLAM",
        "STATUS PERKAWINAN: KAWIN",
        "PEKERJAAN  PEGAWAI",
        "KEWARGANEGARARAN: WNI",
        "BERLAKU HINGGA  01/01/30",
    ]
    return "\n".join(lines)

def make_scientific(i):
    return ("Energy mass relation E = mc^2 applies here. "
            "We compute sqrt of the variance plus log of the ratio. "
            "Then x = y + z and v = d / t are used. "
            "The tan and cos terms cancel in the final sum.")

def make_multi_column(i):
    lines = []
    for j in range(14):
        lines.append(sentence(rng.randint(2, 4), end="" if j % 2 else "."))
    return "\n".join(lines)

def make_signage(i):
    return "GRAND OPENING SALE\n50 PERCENT OFF\nTHIS WEEKEND ONLY"

def make_lang_id(i):
    return " ".join(rng.choice(ID_WORDS) for _ in range(40)) + "."

def make_lang_en(i):
    return paragraph(3)

def make_lang_latin(i):
    return ("Lorem ipsum dolor sit amet consectetur adipiscing elit sed "
            "eiusmod tempor incididunt ut labore et dolore magna aliqua "
            "quis nostrud exercitation ullamco laboris nisi aliquip.")

def make_lang_unknown(i):
    return "12345 67890 12345 67890 !!! ??? 999 888 777 666 555 444."

def make_summary_long(i):
    sents = [sentence(rng.randint(8, 14)) for _ in range(10)]
    sents[0] = "This report presents the main conclusion of the study."
    sents[5] = "An important finding is the significant result observed."
    sents[-1] = "In summary the key point is that quality must improve."
    return " ".join(sents)

def make_insights(i):
    sents = [sentence(rng.randint(8, 12)) for _ in range(8)]
    sents[2] = "The team must deliver the key finding before the deadline."
    sents[4] = "Costs decreased while output improved across the board."
    return " ".join(sents)

def make_receipt_compact(i):
    # <=10 lines and colon-rich so FORM formatting keeps items line-split
    # and the items state machine actually parses them.
    lines = [
        f"CORNER MARKET STORE NUMBER {i} DOWNTOWN BRANCH",
        "DESCRIPTION OF PURCHASED ITEMS AND QUANTITIES",
        f"Premium Arabica Coffee Beans {2 + i % 3} 12.50",
        f"Organic Whole Milk Carton 1 {3 + i % 2}.25",
        "Sourdough Bread Loaf Large 2 6.00",
        "SUBTOTAL: 24.75",
        "TAX: 1.98",
        "TOTAL: 26.73",
        "PAID WITH DEBIT CARD THANK YOU COME AGAIN",
    ]
    return "\n".join(lines)

def make_lang_nonlatin(i):
    return ("Это пример текста на русском языке для проверки работы "
            "определения языка в системе обработки документов сегодня.")

FUZZ_ATOMS = [
    "word", "Data", "VALUE", "the", "dan", "yang", "12.50", "1O0", "5l5",
    "TOTAL", "NIK", "3201 0101", "1/2/95", "First Name", "[x]", "[ ]",
    "E = mc^2", "sqrt", "•", "‣", "▪", "|", "||", ":", "::", "$", "\\",
    "`tick`", "''", ",,", "“curly”", "‘single’", "—dash—", "…", "№",
    " ", " ", "​", "", "\f", "\r", "\t",
    "é", "ñ", "ß", "Ω", "中文字", "русский", "😀", "🎉", "𝔸𝕭",
    "á", "ë", "ITEM", "SUBTOTAI", "CASI-I", "Narna",
    "\x1c", "\x1d", "\x1e", "\x1f", "\x85", "İstanbul", "ǅungla", "ﬁle", "Ⅻ", "½", "𝟏𝟐", "ı", "ＡＢＣ", "１２３", "ᵃᵇ",
    "NAME", "ADDRESS", "Email", "Phone", "-", "--", "-----", "=====",
    "1.", "2)", "a)", "(note)", "right?", "wow!", "end.", ";", "!?",
]

def make_fuzz(i):
    r = random.Random(1000 + i)
    n = r.randint(5, 120)
    parts = []
    for _ in range(n):
        roll = r.random()
        if roll < 0.65:
            parts.append(r.choice(FUZZ_ATOMS))
            parts.append(" ")
        elif roll < 0.80:
            parts.append(r.choice(FUZZ_ATOMS))
        elif roll < 0.92:
            parts.append("\n")
        else:
            parts.append("\n\n" if r.random() < 0.7 else "\n\n\n\n")
    return "".join(parts)

FAMILIES = [
    ("plain", "plain", make_plain, 30),
    ("document", "document", make_document, 60),
    ("headers", "document", make_headers, 30),
    ("bullets", "document", make_bullets, 30),
    ("table", "table", make_table, 45),
    ("form", "form", make_form, 30),
    ("receipt", "receipt", make_receipt, 40),
    ("receipt_compact", "receipt", make_receipt_compact, 20),
    ("lang_nonlatin", "document", make_lang_nonlatin, 8),
    ("id_card", "id_card", make_id_card, 30),
    ("scientific", "scientific", make_scientific, 15),
    ("multi_column", "multi_column", make_multi_column, 25),
    ("signage", "signage", make_signage, 10),
    ("lang_id", "document", make_lang_id, 15),
    ("lang_en", "document", make_lang_en, 15),
    ("lang_latin", "document", make_lang_latin, 10),
    ("lang_unknown", "plain", make_lang_unknown, 10),
    ("summary_long", "document", make_summary_long, 25),
    ("insights", "document", make_insights, 25),
    ("html", "html", make_document, 15),
    ("fuzz_doc", "document", make_fuzz, 40),
    ("fuzz_receipt", "receipt", make_fuzz, 25),
    ("fuzz_idcard", "id_card", make_fuzz, 25),
    ("fuzz_form", "form", make_fuzz, 25),
    ("fuzz_table", "table", make_fuzz, 25),
    ("fuzz_signage", "signage", make_fuzz, 15),
    ("fuzz_multicol", "multi_column", make_fuzz, 20),
    ("fuzz_book", "book_page", make_fuzz, 15),
    ("fuzz_sci", "scientific", make_fuzz, 15),
    ("fuzz_short", "plain", lambda i: make_fuzz(i)[: (i % 23)], 40),
    # blast-derived regression pins: seeds that exposed the UNIX_LINES
    # (\r/\u2028 line-terminator) and empty-headers markdown bugs
    ("fuzz_blast_doc", "html", lambda i: make_fuzz(50000 + [197, 693, 761, 437][i % 4] + (i // 4) * 13), 40),
    ("fuzz_blast_tab", "table", lambda i: make_fuzz(50000 + [197, 437, 761][i % 3] + (i // 3) * 7), 30),
    ("fuzz_blast_rec", "receipt", lambda i: make_fuzz(50000 + 693 + i * 11), 30),
    # UNIX_LINES line-terminator pins: exact blast seeds whose output
    # changes if . ^ $ treat \r/\u0085/\u2028 as line breaks
    ("fuzz_blast_ul_doc", "document", lambda i: make_fuzz(51981 + (i // 1) * 0 + [0, 17, 51][i % 3] * 100), 9),
    ("fuzz_blast_ul_rec", "receipt", lambda i: make_fuzz([52882, 53650, 54910][i % 3] + (i // 3) * 1700), 30),
    ("pdf", "pdf", make_document, 15),
    ("book", "book_page", make_headers, 10),
]

ROLES = ["user", "assistant", "tool"]
EPOCH = 1700000000  # 2023-11-14T22:13:20Z, deterministic base

def build_corpus():
    turns = []
    conv_counter = 0
    for fam, tool, gen, count in FAMILIES:
        # spread each family over several conversations
        per_conv = 10
        for i in range(count):
            if i % per_conv == 0:
                conv_counter += 1
            conv = f"conv-{conv_counter:06d}"
            idx = i % per_conv
            text = gen(i)
            turns.append({
                "conv_id": conv,
                "turn_idx": idx,
                "role": ROLES[i % 3],
                "text": text,
                "tool": tool,
                "ts": (EPOCH + conv_counter * 1000 + idx) * 1000,  # ms
            })
    # edge cases: empty / whitespace / null / short
    conv_counter += 1
    conv = f"conv-{conv_counter:06d}"
    edge = [("", "plain"), ("   \n\n  ", "plain"), (None, "document"),
            ("ok.", "plain"), ("tiny note", "document"), ("1234567890a", "document")]
    for j, (t, tool) in enumerate(edge):
        turns.append({"conv_id": conv, "turn_idx": j, "role": ROLES[j % 3],
                      "text": t, "tool": tool,
                      "ts": (EPOCH + conv_counter * 1000 + j) * 1000})
    # hot conversation (skew fixture): one conv with 10x median turns
    conv_counter += 1
    conv = f"conv-{conv_counter:06d}"
    for j in range(100):
        turns.append({"conv_id": conv, "turn_idx": j, "role": ROLES[j % 3],
                      "text": make_document(j), "tool": "document",
                      "ts": (EPOCH + conv_counter * 1000 + j) * 1000})
    return turns

# --- function-level unit goldens ----------------------------------------
# Direct parity fixtures for functions the live path can't fully reach
# (pipe/tab table extraction, per-type fixers on raw text, summary
# styles, the dead-in-live-path Indonesian fixer).

def extract_fix_indonesian():
    """SmartGlassOCR._fix_indonesian_text executed standalone
    (smartglass_ocr.py:663-780; module imports cv2, so lift the method
    body via ast)."""
    src2 = open(os.path.join(REF, "lib", "smartglass_ocr.py")).read()
    tree2 = ast.parse(src2)
    fn2 = next(n for n in ast.walk(tree2) if isinstance(n, ast.FunctionDef)
               and n.name == "_fix_indonesian_text")
    ns2 = {"re": re}
    exec(compile(ast.Module(body=[fn2], type_ignores=[]), "<ref>", "exec"), ns2)
    f = ns2["_fix_indonesian_text"]
    return lambda text: f(None, text)

fix_indonesian = extract_fix_indonesian()

def _extract_fn(path, name, self_arg=True):
    """Lift a single function/method from a reference module via ast
    (the owning modules import cv2/flask/numpy)."""
    src2 = open(os.path.join(REF, path)).read()
    fn2 = next(n for n in ast.walk(ast.parse(src2))
               if isinstance(n, ast.FunctionDef) and n.name == name)
    import typing
    ns2 = {"re": re, "List": typing.List, "Dict": typing.Dict,
           "Tuple": typing.Tuple, "Optional": typing.Optional}
    exec(compile(ast.Module(body=[fn2], type_ignores=[]), "<ref>", "exec"), ns2)
    f = ns2[name]
    return (lambda *a: f(None, *a)) if self_arg else f

analyze_signage = _extract_fn("app/core/ocr_processor.py", "_analyze_signage_content")
merge_ocr_results = _extract_fn("lib/ocr_engines.py", "_merge_ocr_results")
ref_clean_text = _extract_fn("lib/utils.py", "clean_text", self_arg=False)

UNIT_INPUTS = {
    "noisy": ("He11o wor1d  the  price is 12.34USD and 5O0 items,see "
              "sectionB.Also l1ne-\nbreaks join.  ''quotes''  ,,too,, `x`\n\n\n\nEnd \U0001F600."),
    "receipt_raw": ("TOTAI 45.67\nSUBTOTAI: 40.00\nCASI-I\nITEM LIST\n"
                    "Super Widget 3 15.00\nSmall Gadget 1.99\n2 x Bolt Pack 4.50\n"
                    "DISCOUNI 5.0o/\nTOTAL 45.67\nTHANI< YOU"),
    "idcard_raw": ("NAME Agus Salim\nADDRESS Jl. Sudirman 5\nNIK 3201 0101 0101 0001\n"
                   "TEMPAT TGL LAHIR JAKARTA 5/6/88\nKEWARGANEGARARAN WNI"),
    "form_raw": ("first name John\nlast name  Smith\nemail john@x.com\n"
                 "phone 555 1234\n[x] agree [ ] decline\ndate 1/2/2024"),
    "table_pipes": ("Name|Qty|Price\nApple|3|1.50\nPear | 4 | 2.00\n| | \nBanana|5|0.75"),
    "table_tabs": ("Name\tQty\tPrice\nApple\t3\t1.50\nPear\t4\t2.00"),
    "table_spaces": ("Name      Qty    Price\n------    ---    -----\n"
                     "Apple     3      1.50\nPear      4      2.00\nPlum      2      0.99"),
    "ind_text": ("Narna saya Budi. l<epada bapak kami sampaikan bal1wa "
                 "N1K 3201.0101 0101 0001 berlaku 1/2/95 dalarn berkas.\n"
                 "ALAMAT Jl. Mawar 10\nRT /RW 001/002\nKecarnatan Menteng"),
    "long_text": None,  # filled below
    "marker_text": ("The main point is clear. We must act now. Results improved. "
                    "Costs decreased substantially last year. Nothing else matters here. "
                    "In conclusion the effort was worth it." + " Filler sentence goes here." * 10),
}

def build_unit_goldens():
    rng2 = random.Random(7)
    def sent(n):
        ws = [rng2.choice(WORDS) for _ in range(n)]
        return " ".join(ws).capitalize() + "."
    UNIT_INPUTS["long_text"] = " ".join(sent(rng2.randint(6, 14)) for _ in range(25))

    proc = tp.TextProcessor()
    cases = []

    def add(fn, inp_key, out, arg=None):
        cases.append({"fn": fn, "input_key": inp_key, "arg": arg, "out": out})

    for key in ("noisy", "receipt_raw", "idcard_raw", "form_raw",
                "table_pipes", "table_tabs", "table_spaces", "long_text"):
        text = UNIT_INPUTS[key]
        for t in ("document", "receipt", "id_card", "form", "table"):
            it = image_type_for(t)
            add("post_process_text", key, tp.post_process_text(text, it), arg=t)
        add("format_text", key, tp.format_text(text, None))
        add("detect_document_structure", key, tp.detect_document_structure(text).value)
        add("detect_language", key, tp.detect_language(text))
        add("clean_response_text", key, clean_response_text(text))

    add("fix_receipt", "receipt_raw", proc._fix_receipt_text(UNIT_INPUTS["receipt_raw"]))
    add("fix_id_card", "idcard_raw", proc._fix_id_card_text(UNIT_INPUTS["idcard_raw"]))
    add("fix_form", "form_raw", proc._fix_form_text(UNIT_INPUTS["form_raw"]))
    for k in ("table_pipes", "table_tabs", "table_spaces"):
        add("fix_table", k, proc._fix_table_text(UNIT_INPUTS[k]))
    add("fix_indonesian", "ind_text", fix_indonesian(UNIT_INPUTS["ind_text"]))

    for style in ("concise", "detailed", "bullets"):
        for ml in (100, 200, 400):
            add("generate_summary", "long_text",
                tp.generate_summary(UNIT_INPUTS["long_text"], max_length=ml, style=style),
                arg=f"{style}:{ml}")
            add("generate_summary", "marker_text",
                tp.generate_summary(UNIT_INPUTS["marker_text"], max_length=ml, style=style),
                arg=f"{style}:{ml}")
    add("extract_key_insights", "marker_text",
        tp.extract_key_insights(UNIT_INPUTS["marker_text"]))
    add("extract_key_insights", "long_text",
        tp.extract_key_insights(UNIT_INPUTS["long_text"]))

    # dead-in-live-path but exported surface (SURVEY §2.4, §2.3, §2.6/2.7)
    for key in ("noisy", "long_text", "receipt_raw", "form_raw"):
        add("clean_text_util", key, ref_clean_text(UNIT_INPUTS[key]))
        add("general_corrections", key,
            proc._apply_general_text_corrections(UNIT_INPUTS[key]))
    UNIT_INPUTS["signage_promo"] = "DISKON BESAR\nTOKO ELEKTRONIK\nBUY NOW"
    UNIT_INPUTS["signage_warning"] = "AWAS BAHAYA\nDILARANG MASUK"
    UNIT_INPUTS["signage_general"] = "WELCOME HOME\nOPEN DAILY 9-5"
    UNIT_INPUTS["signage_food"] = "PROMO SPECIAL\nPIZZA AND BURGER MENU"
    for key in ("signage_promo", "signage_warning", "signage_general", "signage_food"):
        ct, desc = analyze_signage(UNIT_INPUTS[key])
        add("analyze_signage", key, [ct, desc])
    UNIT_INPUTS["merge_variants"] = ("HELLO WORLD\nSECOND LINE HERE\nthird\n"
                                     "@@@HELLO WORLD\nHELLO\nSECOND LINE HERE EXTENDED\nfourth line")
    v1, v2 = UNIT_INPUTS["merge_variants"].split("@@@")
    add("merge_variants", "merge_variants",
        merge_ocr_results([{"text": v1}, {"text": v2}]))

    # the _organize_* family (dead in live path, exported surface)
    UNIT_INPUTS["organize_doc"] = (
        "INTRODUCTION\nThis is a long paragraph line that keeps going on. "
        "It ends here.\nNext sentence starts Capital after punctuation.\n"
        "- bullet item\n1. numbered\nShort heading\n\nSecond para text here "
        "that is long enough to be a real paragraph line indeed.")
    UNIT_INPUTS["organize_receipt"] = (
        "STORE NAME\n123 Main Street\nDESCRIPTION\nWidget 2 4.00\nGizmo 1 2.00\n"
        "SUBTOTAL 6.00\nTAX 0.48\nTOTAL 6.48\nTHANK YOU COME AGAIN")
    UNIT_INPUTS["organize_idcard"] = (
        "NAME John Smith\nID NUMBER: A123456\nADDRESS 12 Elm St\n"
        "SEX M\nHEIGHT 180\nthe SIGNATURE below\nNATIONALITY: USA")
    for key, fam in (("organize_doc", "doc"), ("form_raw", "form"),
                     ("organize_receipt", "receipt"), ("organize_idcard", "idcard"),
                     ("table_pipes", "table"), ("table_spaces", "table2"),
                     ("organize_doc", "default")):
        fn = {"doc": proc._organize_document_text,
              "form": proc._organize_form_text,
              "receipt": proc._organize_receipt_text,
              "idcard": proc._organize_id_card_text,
              "table": proc._organize_table_text,
              "table2": proc._organize_table_text,
              "default": proc._default_text_organization}[fam]
        add(f"organize_{fam}", key, fn(UNIT_INPUTS[key]))

    for k in ("table_pipes", "table_tabs", "table_spaces"):
        info = ie.extract_structured_info(UNIT_INPUTS[k], ImageType.TABLE)
        add("extract_table_info", k, flatten(info, ImageType.TABLE))
    info = ie.extract_structured_info(UNIT_INPUTS["receipt_raw"], ImageType.RECEIPT)
    add("extract_receipt_info", "receipt_raw", flatten(info, ImageType.RECEIPT))
    info = ie.extract_structured_info(UNIT_INPUTS["idcard_raw"], ImageType.ID_CARD)
    add("extract_id_card_info", "idcard_raw", flatten(info, ImageType.ID_CARD))
    info = ie.extract_structured_info(UNIT_INPUTS["form_raw"], ImageType.FORM)
    add("extract_form_info", "form_raw", flatten(info, ImageType.FORM))
    return cases

def main():
    out_dir = os.path.join(REPO, "src", "test", "resources")
    os.makedirs(out_dir, exist_ok=True)
    turns = build_corpus()
    with open(os.path.join(out_dir, "corpus.jsonl"), "w", encoding="utf-8") as f:
        for t in turns:
            f.write(json.dumps(t, ensure_ascii=False) + "\n")
    n_ok = 0
    with open(os.path.join(out_dir, "goldens.jsonl"), "w", encoding="utf-8") as f:
        for t in turns:
            g = run_live_path(t["text"], t["tool"])
            g["conv_id"] = t["conv_id"]
            g["turn_idx"] = t["turn_idx"]
            g["markdown"] = render_markdown(t["ts"], t["tool"], g)
            for k in ("_summary_raw", "_insights_raw", "_structured_live"):
                del g[k]
            f.write(json.dumps(g, ensure_ascii=False) + "\n")
            n_ok += 1
    cases = build_unit_goldens()
    with open(os.path.join(out_dir, "unit_goldens.jsonl"), "w", encoding="utf-8") as f:
        f.write(json.dumps({"inputs": UNIT_INPUTS}, ensure_ascii=False) + "\n")
        for c in cases:
            f.write(json.dumps(c, ensure_ascii=False) + "\n")
    print(f"wrote {len(turns)} corpus turns, {n_ok} goldens, "
          f"{len(cases)} unit cases to {out_dir}")

if __name__ == "__main__":
    main()
