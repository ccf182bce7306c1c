#!/usr/bin/env python3
# Tamil snowball prototype v7 — first-match-wins families, tense first,
# suffix-group-specific fixes (probes 1-7, 2026-08-13).
# Model:
#  - pre-steps: question prefix ([அஇஉஎ]C், sandhi C, len>=5);
#    question suffix (ா/ே/ோ→், len>4, QF fix).
#  - families checked in order, FIRST match wins:
#    tense -> plural -> um -> commons -> vetrumai -> command; barefix if none.
#  - tense: group A (க்-doubled, e.g. க்கிறான்) deletes then fix incl
#    ungated ு→் (இருக்கிறான்→இர்); group B (plain) deletes then fix where
#    ு→் fires only after a pulli cluster (்Cு: தூங்கு→தூம், ஓடு stays);
#    person ேன்/ான்/ாள்/ார்/ோம்→்; -து past forms (ந்தது/த்தது rem>=1,
#    bare து len>4) with only gated bare-ன delete (சொன்னது→சொன்,
#    சென்றது→சென்ற stays).
#  - vetrumai: த்து→∅+UNG (min rem 2); ை→் only after ய/ன or cluster
#    (மரத்தை→மரம், குதிரை stays); ில்/ின்/ால்/ுக்கு→் + VET.
#  - plural: ுக்கள்→்+UNG; ட்கள்→ள்; ற்கள்→ல்; கள்→∅+gated fix whose
#    table includes வர்/பர் deletes (மாணவர்கள்→மாண, அவர்கள்→அவர்).
import os
import sys
PU = "்"
SIGNS = set("ாிீுூெேைொோௌ")

def fix(w, rules):
    """rules: (suffix, replacement, gate): fires while len(w) > gate
    (None = ungated); longest match per iteration; repeat to fixpoint."""
    while True:
        best = None
        for s, r, g in rules:
            if w.endswith(s) and (g is None or len(w) > g) \
                    and (best is None or len(s) > len(best[0])):
                best = (s, r, g)
        if best is None:
            return w
        s, r, g = best
        w2 = w[: len(w) - len(s)] + r
        if w2 == w:
            return w
        w = w2

DBL = [("ட்ட்", "டு", None), ("ற்ற்", "", None), ("ன்ற்", "ல்", None),
       ("ட்க்", "ள்", None), ("ற்க்", "ல்", None),
       ("க்க்", "க்", None), ("ப்ப்", "ப்", None), ("த்த்", "த்", None),
       ("ல்ல்", "ல்", None), ("ண்ண்", "ண்", None), ("ள்ள்", "ள்", None),
       ("ன்ன்", "ன்", None)]
STOPS = "கசடதநபவற"

CONS = "கஙசஞடணதநபமயரலவழளறன"
# junk: final C் whose preceding char is ் (invalid double-pulli joins)
JUNK = [(PU + c + PU, PU, 4 if c in "கசடதபற" else None) for c in CONS]
# doubles for the ungated cascades: stop doubles delete BOTH
# (கப்புக்கள்→க, மரத்துக்கு→மர), ட்ட்→டு, sonorants reduce to single
DBL_U = [("ட்ட்", "டு", None), ("ற்ற்", "", None), ("ன்ற்", "ல்", None),
         ("ட்க்", "ள்", None), ("ற்க்", "ல்", None),
         ("க்க்", "", None), ("ப்ப்", "", None), ("த்த்", "", None),
         ("ச்ச்", "", None),
         ("ல்ல்", "ல்", None), ("ண்ண்", "ண்", None), ("ள்ள்", "ள்", None),
         ("ன்ன்", "ன்", None)]
# ுக்கள் / ுக்கு / வைகள் / um cascade: single stops gated >3
UNG = JUNK + DBL_U + [(c + PU, "", 3) for c in STOPS] + \
    [("க", "", 3), ("ச", "", 3), ("ட", "", 3), ("த", "", 3),
     ("ந", "", 3), ("ப", "", 3), ("ய", "", 3), ("வ", "", 3),
     ("ன", "", 3)]
# ுடன் / ிடம் cascade: fully ungated + gated ள்→் (அவர்களிடம்→அவர்,
# புத்தகத்துடன்→பு)
DL = JUNK + DBL_U + [("ள்", PU, 4)] + [(c + PU, "", None) for c in STOPS] + \
    [("க", "", None), ("ச", "", None), ("ட", "", None), ("த", "", None),
     ("ந", "", None), ("ப", "", None), ("ய", "", None), ("வ", "", None),
     ("ன", "", None)]
# ில் / ின் / ால் / ோடு fix: த்த்→ம் sandhi un-doing, ள்→்(>4),
# stops(>4), ய்/வ்(>3); NO ன் delete, NO ங்→ம் (மரங்களால்→மரங்)
IL = JUNK + [("த்த்", "ம்", None), ("ட்ட்", "டு", None), ("ற்ற்", "", None),
      ("ன்ற்", "ல்", None), ("ட்க்", "ள்", None), ("ற்க்", "ல்", None),
      ("க்க்", "", None), ("ப்ப்", "", None), ("ச்ச்", "", None),
      ("ல்ல்", "ல்", None), ("ண்ண்", "ண்", None), ("ள்ள்", "ள்", None),
      ("ன்ன்", "ன்", None), ("ள்", PU, 4)] + \
    [(c + PU, "", 4) for c in STOPS if c not in "யவ"] + \
    [("வ்", "", 3)] + \
    [(s + "ய்", s, 3) for s in "ிை"] + \
    [(c + "ய்", c, 4) for c in CONS]
def _yp(w, n):
    return w.endswith("ய்") and n > 3 and (n < 3 or w[-3] != "ு")
# ை fix: IL + ன் delete (அண்ணனை→அண்ண) + ங்→ம் (சிங்கை→சிம்)
AI = IL + [("ன்", "", 4), ("ந்", "", 2), ("ங்", "ம்", 3), ("த்து", "", 5)]
CLI = [(PU + "வி", PU + "வ்", None)]
# gated plural fix: incl வர்/பர் (probe2/3) and ங்→ம்
PLU = JUNK + CLI + DBL + [("வர்", "", 4), ("பர்", "", 4), ("ங்", "ம்", 4),
       ("னம்", "", 4), ("ீர்", PU, 4), ("வன்", "", 4), ("வள்", "", 4)] + \
    [(s + "ங்", s, None) for s in "ாிீூெேைொோௌ"] + [("ுங்", PU, None)] + \
    [(c + PU, "", 4) for c in STOPS]
# command fix (ார்→் per உட்கார்க்கு/உட்கார்து→உள்)
CMD = JUNK + DBL + [("ங்", "ம்", 3), ("ார்", PU, 4)] + \
    [(c + PU, "", 3) for c in STOPS]
# vetrumai fix (after ை/ில்/ின்/ால்/ுக்கு → ்): த்த்→ம் sandhi un-doing
VET = [("த்த்", "ம்", None), ("ட்ட்", "டு", None), ("ற்ற்", "", None),
       ("ன்ற்", "ல்", None), ("ட்க்", "ள்", None), ("ற்க்", "ல்", None),
       ("க்க்", "க்", None),
       ("ல்ல்", "ல்", None), ("ண்ண்", "ண்", None), ("ள்ள்", "ள்", None),
       ("ன்ன்", "ன்", None), ("ள்", PU, None)] + \
    [(c + PU, "", 4) for c in STOPS] + \
    [("ய்", "", 4), ("ன்", "", 4), ("ி", PU, 4), ("ய", "", 3), ("வ", "", 3)]
# question-suffix fix
QF = JUNK + DBL + [("ங்", "ம்", 3), ("ா", PU, 4)] + \
    [(PU + c + "ல்", PU + c + PU, None) for c in CONS] + \
    [(PU + c + "ள்", PU + c + PU, None) for c in CONS] + \
    [(c + PU, "", 3) for c in STOPS]

def fix_tense(w, u_ungated, extras=False):
    """TEN fix: doubles, த்து (min rem 2), ார்→் (>4), pulli-stop deletes
    (>3), ங்→ம் (>3), bare ன (>4); ு→் ungated for group A, else only
    after a pulli cluster (்Cு)."""
    while True:
        n = len(w)
        best = None
        def consider(s, r):
            nonlocal best
            if best is None or len(s) > len(best[0]):
                best = (s, r)
        for s, r, g in DBL:
            if s == "க்க்":
                r = ""
            if w.endswith(s) and (g is None or n > g):
                consider(s, r)
        if extras and w.endswith("ை") and n >= 4 and w[-3] == PU \
                and w[-4] == w[-2]:
            consider("ை", PU)
        if extras and w.endswith(PU + "வி"):
            consider("வி", "வ்")
        if extras and n > 4 and w.endswith("ல்") and w[-3] in SIGNS:
            consider(w[-3] + "ல்", PU)
        if w.endswith("த்து") and n - 4 >= 2:
            consider("த்து", "")
        if w.endswith("ார்") and n > 4:
            consider("ார்", PU)
        for c in STOPS:
            if w.endswith(c + PU) and n > 3:
                consider(c + PU, "")
        if w.endswith("ங்") and n > 3:
            consider("ங்", "ம்")
        if w.endswith("ன") and n > 4:
            consider("ன", "")
        if w.endswith("ு"):
            # ்கு/்து only (தூங்கு→தூம் but அனுப்பு stays), or group A
            if u_ungated or (n >= 3 and w[-3] == PU and w[-2] in "கத"):
                consider("ு", PU)
        if best is None:
            return w
        s, r = best
        w2 = w[: len(w) - len(s)] + r
        if w2 == w:
            return w
        w = w2

def longest(w, sfxs, minrem=2):
    best = None
    for s in sfxs:
        if w.endswith(s) and len(w) - len(s) >= minrem and \
                (best is None or len(s) > len(best)):
            best = s
    return best

def barefix(w):
    """no-family fallback. One-shot rules (ல்→் with sign absorb, ீ→ி)
    apply only to the ORIGINAL word (கழௌயல்→கழௌய் but கழௌயல்னக்
    stops at கழௌயல்); then the cascade loop."""
    if len(w) > 4 and w.endswith("ல்") and w[-3] != PU and \
            w[-3] not in SIGNS:
        w = w[:-2] + PU
    elif len(w) > 4 and w.endswith("பீ"):
        w = w[:-2]
    elif len(w) > 4 and w.endswith("ீ"):
        w = w[:-1] + "ி"
    elif len(w) > 6 and w[-1] == PU and \
            w[-3] == "ீ" and w[-2] in "கசடதபற":
        w = w[:-3] + "ி"  # ீ + stop junk: both go, long ீ shortens
    if len(w) > 4 and w.endswith("வி"):
        w = w[:-2]
    return barecascade(w)

def barecascade(w):
    while True:
        w2 = fix(w, JUNK + DBL_U +
                 [("வர்", "", 4), ("பர்", "", 5), ("த்து", "", 5),
                  ("னம்", "", 4), ("ீர்", PU, 4),
                  ("வன்", "", 4), ("பன்", "", 5), ("வள்", "", 4),
                  ("க", "", 4)] +
                 [(s + "ங்", PU, 4) for s in "ாிீுூெேைொோௌ"] +
                 [(c + "ங்", c + "ம்", 3) for c in CONS] +
                 [(c + PU, "", 4 if c == "வ" else 3) for c in STOPS] +
                 [("ய", "", 3), ("வ", "", 3), ("ன", "", 4),
                  ("ப", "", 5), ("த", "", 4),
                  ("ந்", "", 3)] +
                 [("ீய்", "ி", 4), ("ீவ்", "ி", 4)] +
                 [(s + "வி", s, 4) for s in "ாிீுூெேைொோௌ"] +
                 [
                  ("ா", PU, 4), ("ோ", PU, 4), ("ே", PU, 4)])
        if w2.endswith("ை") and len(w2) >= 3 and w2[-3] == PU and \
                w2[-4] != w2[-2] and \
                w2[-4] + w2[-2] not in ("ஙக", "ஞச", "ணட", "நத", "மப", "னற"):
            w2 = fix(w2[:-2], JUNK)
        if w2 == w:
            # short sign+ங் assimilates instead of deleting (தூங்→தூம்,
            # நேங்→நேம்; the gated delete above handles longer words)
            if len(w2) <= 4 and len(w2) >= 3 and w2.endswith("ங்") and \
                    w2[-3] in "ாீூேோ":
                return w2[:-2] + "ம்"
            return w2
        w = w2

# tense suffix tables
TENSE_A = ["க்கிறான்", "க்கிறாள்", "க்கிறார்கள்", "க்கிறார்", "க்கிறேன்",
           "க்கிறோம்", "க்கிறீர்கள்", "க்கிறது", "க்கின்றான்", "க்கின்றாள்",
           "க்கின்றேன்", "க்கின்றது", "க்கின்றன", "க்கின்றோம்"]
TENSE_B = ["கிறான்", "கிறாள்", "கிறார்கள்", "கிறார்", "கிறேன்", "கிறோம்",
           "கிறீர்கள்", "கிறது", "கின்றான்", "கின்றாள்", "கின்றேன்",
           "கின்றது", "கின்றன", "கின்றோம்",
           "ந்தான்", "ந்தாள்", "ந்தேன்", "ந்தது",
           "த்தான்", "த்தாள்", "த்தேன்", "த்தது",
           "ந்தார்கள்", "த்தார்கள்", "ந்தீர்கள்", "த்தீர்கள்",
           "ந்தோம்", "த்தோம்", "ந்தார்", "த்தார்",
           "னான்", "னாள்", "னார்", "வேன்", "வான்", "வாள்", "வார்",
           "வோம்", "வார்கள்", "ப்பேன்", "ப்பான்", "ப்பாள்", "ப்பார்",
           "ப்போம்", "தான்"]
# bare participle ந்த/த்த: same strip but the fix also normalizes a
# trailing cluster-ி / geminate-ை (கல்விந்த→கல், காக்கைந்த→கா)
TENSE_G = ["ந்த", "த்த"]
PERSON = ["ேன்", "ான்", "ாள்", "ார்", "ோம்"]

def try_tense(w):
    sa = longest(w, TENSE_A, minrem=1)
    sb = longest(w, TENSE_B, minrem=1)
    sg = longest(w, TENSE_G, minrem=1)
    sp = longest(w, PERSON, minrem=1)
    cands = []
    if sa: cands.append((len(sa), "A", sa))
    if sb: cands.append((len(sb), "B", sb))
    if sg: cands.append((len(sg), "G", sg))
    if sp: cands.append((len(sp), "P", sp))
    if w.endswith("து") and len(w) > 4 and \
            w[-3] not in SIGNS and w[-3] != PU:
        cands.append((2, "B", "து"))
    if not cands:
        return None
    _, kind, s = max(cands)
    rest = w[: len(w) - len(s)]
    if kind == "P":
        if rest and (rest[-1] in SIGNS or rest[-1] == PU):
            return fix_tense(rest, u_ungated=False)
        return fix_tense(rest + PU, u_ungated=False)
    # full-delete remainders also take the shared ending cascade
    # (தண்ணீர்கின்றான்→தண், நடனம்வேன்→நட — same as the bare forms)
    return barecascade(fix_tense(rest, u_ungated=(kind == "A"),
                                 extras=(kind == "G")))

PFX = [("னம்", "", None), ("ை", PU, 4)] + DBL + \
    [(c + PU, "", 3) for c in STOPS] + [("ங்", "ம்", 3)]

def pfxfix(w):
    """post-pass on the question-prefix path when no family fired:
    ை→் (>4), ி→் after a cluster, னம் delete (இனிமை→இனிம்,
    கல்வி→கல், நடனம்→நட; உடை/சிரி/நிலம் stay)."""
    if w.endswith("னம்") and len(w) - 3 >= 2:
        return fix(w[:-3], PFX)
    if w.endswith("ை") and len(w) > 4:
        return fix(w[:-1] + PU, PFX)
    if w.endswith("ி") and len(w) >= 3 and w[-3] == PU:
        return fix(w[:-1] + PU, PFX)
    return w

def command_after(w):
    """plural remainders ending ்கு/்து continue into the command family
    (நாக்குகள்→நா, பந்துகள்→பந், தூங்குகள்→தூம்)."""
    if len(w) > 4 and (w.endswith("்கு") or
                       (w.endswith("்து") and not w.endswith("த்து"))):
        return fix(w[:-1] + PU, CMD)
    return w

def stem(word):
    w = word
    fired = False
    prefixed = False

    # question prefix
    if len(w) >= 5 and w[0] in "அஇஉஎ" and w[1] in "கசதபவநமயஙஞ" and w[2] == PU:
        w = w[3:]
        fired = True
        prefixed = True

    # question suffix
    if len(w) > 4 and w[-1] in "ாோே":
        w = fix(w[:-1] + PU, QF)
        fired = True

    # ---- first-match families ----
    t = try_tense(w) if len(w) > 4 else None
    if t is not None:
        return t

    if len(w) > 4 and w.endswith("ீர்கள்"):
        return barecascade(fix(w[:-6] + PU, IL))

    if len(w) > 4:
        if w.endswith("ுக்கள்") and len(w) - 6 >= 1:
            # v9: remainder continues into the shared cascade (தூங்குக்கள்→தூம்)
            return barecascade(fix(w[:-6] + PU, UNG))
        if w.endswith("ங்கள்") and len(w) >= 8 and \
                ((w[-6] == "ு" and w[-7] in "கசடதபற") or w[-6] in "ிீ" or
                 (w[-6] not in SIGNS and w[-6] != PU)):
            return w[:-5] + "ம்"
        if w.endswith("ட்கள்") and not w.endswith("்ட்கள்"):
            return w[:-5] + "ள்"
        if w.endswith("ற்கள்") and not w.endswith("்ற்கள்"):
            return w[:-5] + "ல்"
        if w.endswith("வைகள்") and len(w) - 5 >= 3:
            # v9: remainder continues into the shared cascade (வானம்வைகள்→வா)
            return barecascade(command_after(fix(w[:-5], UNG)))
        if w.endswith("கள்"):
            jw = fix(w[:-3], JUNK)
            if jw != w[:-3]:
                return jw  # invalid-join strip only (மருத்துவர்ங்கள்)
            return command_after(fix(jw, PLU))

    if len(w) > 4:
        ums = [("ாகியும்", ""), ("ையும்", "ை"), ("ாலும்", PU),
               ("ிலும்", PU), ("ோடும்", "ோ"), ("ும்", PU)]
        s = longest(w, [u[0] for u in ums])
        if s is not None:
            return fix(w[: len(w) - len(s)] + dict(ums)[s], UNG)

    if len(w) > 4:
        if w.endswith("ுடன்"):
            return fix(w[:-4] + PU, DL)
        if w.endswith("ிடம்"):
            return fix(w[:-4] + PU, DL)
        commons = [("ிலிருந்து", "ில்"), ("ிருந்து", ""),
                   ("ாகிய", PU), ("ாய", PU), ("ின்றி", PU),
                   ("ாக", PU), ("ான", PU), ("ாத", PU),
                   ("ாமல்", PU), ("ாய்", PU), ("ாம்", PU), ("ென", PU),
                   ("ேயான", "ேய்"), ("ியது", "ி"), ("ிய", "ி")]
        s = longest(w, [c[0] for c in commons])
        if s == "ான" and len(w) <= 5:
            s = None  # மரமான→மரமா via bare-ன delete, not ான→்
        if s == "ாக" and len(w) <= 5:
            s = None  # திறாக→திறா via bare-க delete
        if s is not None:
            return fix(w[: len(w) - len(s)] + dict(commons)[s], UNG)

    if len(w) > 4:
        if w.endswith("த்து") and len(w) - 4 >= 2:
            return fix(w[:-4], UNG)
        # ை→் (len>4) after any bare consonant; ரை additionally requires
        # [-3] not a vowel sign (வீரரை→வீரர் but குதிரை stays); after an
        # invalid pulli join (அண்ணன்வை) just drop the junk consonant + ை
        if w.endswith("ை") and (w[-2] in "யரலவழளனணமஞங" or
                                 (len(w) >= 3 and w[-3] == PU)):
            # v9: stacked plural+case (மரங்களை, பூக்களை) re-enters the
            # pipeline so the plural family does its gated work
            if w[:-1].endswith("கள") and len(w) > 6:
                return stem(w[:-1] + PU)
            if len(w) >= 3 and w[-3] == PU:
                pair = w[-4] + w[-2]
                if w[-4] == w[-2] and w[-2] in "னணலளரழயவம":
                    # v9: SONORANT geminate reduces only, then the shared
                    # cascade (அரசன்னை→அரசன், கண்ணை→கண்; no ன் over-delete).
                    # Stop geminates (த்தை) keep the AI sandhi-undo path.
                    return barecascade(fix(w[:-1] + PU, DBL))
                if w[-4] == w[-2]:
                    return fix(w[:-1] + PU, AI)
                if pair in ("ஙக", "ஞச", "ணட", "நத", "மப", "னற"):
                    return fix(w[:-1] + PU, AI)
                # v9: invalid-join strip continues into the shared cascade
                # (தண்ணீர்வை→தண், மாணவன்னை→மாண)
                return barecascade(w[:-2])
            # v9: a remainder ending ்கு/்து continues into the command
            # family (பேருந்துவை→பேரு), then the shared cascade
            return barecascade(command_after(fix(w[:-1] + PU, AI)))
        if w.endswith("ுக்கு"):
            # v9: the UNG remainder continues into the shared bare cascade
            # (நண்பனுக்கு→நண், மாணவனுக்கு→மாண; no-op for அரசன்/மகன்/மரங்கள்)
            return barecascade(fix(w[:-5] + PU, UNG))
        if w.endswith("ற்கு"):
            return w[:-4]
        if w.endswith("க்கு") and len(w) >= 5 and w[-5] in SIGNS:
            return w[:-4]
        for s in ("ோடு", "ால்", "ில்", "ின்"):
            if w.endswith(s):
                w1 = w[: len(w) - len(s)] + PU
                # v9: stacked plural+case (மரங்களில்) re-enters the pipeline
                if w1.endswith("கள்") and len(w1) > 5:
                    return stem(w1)
                return barecascade(fix(w1, IL))
        if w.endswith("ீர்கள்"):
            return barecascade(fix(w[:-6] + PU, IL))

    # command: final ்கு / ்து (cluster + u) at len>4
    # v9: remainder continues into the shared bare cascade
    # (மாணவர்க்கு→மாண, தண்ணீர்க்கு→தண்; no-op for தூம்/அவர்)
    if len(w) > 4 and (w.endswith("்கு") or w.endswith("்து")):
        return barecascade(fix(w[:-1] + PU, CMD))

    if prefixed:
        return pfxfix(w)
    if not fired:
        w = barefix(w)
    return w

if __name__ == "__main__":
    tsv = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "..", "..", "src", "test", "resources", "snowball", "tamil.tsv")
    bad = []
    total = 0
    for line in open(tsv):
        wd, want = line.rstrip("\n").split("\t")
        total += 1
        got = stem(wd)
        if got != want:
            bad.append((wd, got, want))
    print(f"mismatches: {len(bad)}/{total}")
    from collections import Counter
    c = Counter(w[-3:] for w, _, _ in bad)
    for k, n in c.most_common(15):
        print(" ", k, n)
    for wd, got, want in bad[:36]:
        print(f"  {wd}: got={got} want={want}")
