# Greek stemmer prototype (Ntais 2006 / Saroukos extension — the algorithm
# behind PG's greek_stem snowball dictionary), model derived by oracle
# probing. Semantics:
#  - normalize: lowercase, strip diacritics, final sigma; min length 3
#  - step1: ends-with suffix-replace map (unsets test1)
#  - verb steps s1..s10 + noun 2a-2c: delete keeps test1; re-adds unset
#  - rule6 (ια/ιου/ιων), rule7 (ικ*), 2d (εωσ/εων), rules 8-20: unset test1
#    on BOTH branches
#  - every rule needs a nonempty remaining stem; longest suffix match COMMITS
#    (no fallback to a shorter suffix if blocked)
#  - residual rule21: only if test1 AND len>=3 (special exact βι->β λι->λ);
#    ματα/ματων/ματοσ -> μα first, then one longest-match strip
#  - rule22 comparatives: unconditional
import os, sys, unicodedata

def norm(w):
    w = w.lower()
    w = unicodedata.normalize("NFD", w)
    w = "".join(c for c in w if not unicodedata.combining(c))
    return w.replace("ς", "σ")

V = set("αεηιουω")
V2 = set("αεηιοω")  # vowel set without upsilon

step1_list = []
for grp, rep in [
    ("φαγια φαγιου φαγιων", "φα"), ("σκαγια σκαγιου σκαγιων", "σκα"),
    ("ολογιου ολογια ολογιων", "ολο"), ("σογιου σογια σογιων", "σο"),
    ("τατογια τατογιου τατογιων", "τατο"),
    ("κρεασ κρεατοσ κρεατα κρεατων", "κρε"),
    ("περασ περατοσ περατα περατων περατη", "περ"),
    ("τερασ τερατοσ τερατα τερατων", "τερ"),
    ("φωσ φωτοσ φωτα φωτων", "φω"),
    ("καθεστωσ καθεστωτοσ καθεστωτα καθεστωτων", "καθεστ"),
    ("γεγονοσ γεγονοτοσ γεγονοτα γεγονοτων", "γεγον"),
]:
    for g in grp.split():
        step1_list.append((g, rep))
step1_list.sort(key=lambda p: -len(p[0]))

S = lambda s: set(s.split())

def match(w, fam):
    """longest suffix of w in the family (whole-word match allowed — an
    empty result is surfaced by PG as {} and the token survives)."""
    best = None
    for s in fam:
        if w.endswith(s) and (best is None or len(s) > len(best)):
            best = s
    return best

class G:
    def __init__(self, w):
        self.w = w
        self.test1 = True

exc_s1i  = S("αναμπα εμπα επα ξαναπα πα περιπα αθρο συναθρο δανε")
exc_s1iz = S("μαρκ κορν αμπαρ αρρ βαθυρι βαρκ β βολβορ γκρ γλυκορ γλυκυρ "
             "ιμπ λ λου μαρ μ πρ μπρ πολυρ π ρ πιπερορ")
exc_s2   = S("αλ εν υψ σ χ ζω")
exc_s3i  = S("αναμπα αθρο εμπα εσε εσωκλε επα ξαναπα επε περιπα συναθρο "
             "δανε κλε χαρτοπα μετεπε αποκλε απεκλε εκλε πε")
exc_s3is = S("αν αφ γε γιγαντοαφ γκε δημοκρατ κομ γκ μ π πουκαμ ολο λαρ")
exc_s4   = exc_s3i
exc_s5ist = S("μ π απ αρ ηδ κτ σκ σχ υψ φα χρ χτ ακτ αορ ασχ ατα αχν αχτ "
              "γεμ γυρ εμπ ευπ εχθ ηφα καθ κακ κυλ λυγ μακ μεγ ταχ φιλ χωρ")
exc_s5i  = S("δανε συναθρο κλε σε εσωκλε ασε πλε")
exc_s6ik = ("αγνωστικ ατομικ γνωστικ εθνικ εκλεκτικ σκεπτικ τοπικ")  # ends-with
exc_s6in = ("αλεξανδριν βυζαντιν θεατριν")                            # ends-with
exc_s7   = S("σ χ")
exc_s8ak = S("ανθρ βαμβ βρ κ καιμ κον κορ λαβρ λουλ μερ μουστ ναγκασ πλ ρ ρυ "
             "σ σκ σοκ σπαν τζ φαρμ χ καπακ αλισφ αμβρ φυλ κατραπ κλιμ μαλ "
             "σλοβ φ σφ τσεχοσλοβ")
exc_s8its = S("β βαλ γιαν γλ ζ ηγουμεν καρδ κον μακρυν νυφ πατερ π σκ τοσ "
              "τριπολ")
exc_s9id = ("παιχν",)   # ends-with
exc_s10  = S("δ ιβ μην ρ φραγκ λυκ οβελ")
exc_2a   = ("οκ μαμ μαν μπαμπ πατερ γιαγι νταντ κυρ θει πεθερ")  # ends-with
exc_2b   = ("οπ ιπ εμπ υπ γηπ δαπ κρασπ μιλ")                    # ends-with
exc_2c   = ("αρκ καλιακ πεταλ λιχ πλεξ σκ σ φλ φρ βελ λουλ χν σπ τραγ φε")
exc_2d   = S("θ δ ελ γαλ ν π ιδ παρ")
exc_r7   = S("αλ αδ ενδ αμαν αμμοχαλ ηθ ανηθ αντιδ φυσ βρωμ γερ εξωδ καλπ "
             "καλλιν καταδ μουλ μπαν μπαγιατ μπολ μποσ νιτ ξικ συνομηλ "
             "πετσ πιτσ πικαντ πλιατσ ποστελν πρωτοδ σερτ συναδ τσαμ υποδ "
             "φιλον φυλοδ χασ")
exc_r8   = S("αναπ αποθ αποκ αποστ βουβ ξεθ ουλ πεθ πικρ ποτ σιχ χ")
exc_r9   = S("βετερ βουλκ βραχμ γ δραδουμ θ καλπουζ καστελ κορμορ λαοπλ "
             "μωαμεθ μουσουλμ μ ν ουλ π πελεκ πλ πολισ πορτολ σαρακατσ "
             "σουλτ τσαρλατ ορφ τσιγγ τσοπ φωτοστεφ χ ψυχοπλ αγ γαλ γερ "
             "δεκ διπλ αμερικαν ουρ πιθ πουριτ σ ζωντ ικ καστ κοπ λιχ "
             "λουθηρ μαιντ μελ σιγ σπ στεγ τραγ τσαγ φ ερ αδαπ αθιγγ αμηχ "
             "ανικ ανοργ απηγ απιθ ατσιγγ βασ βασκ βαθυγαλ βιομηχ βραχυκ "
             "διατ διαφ ενοργ θυσ καπνοβιομηχ καταγαλ κλιβ κοιλαρφ λιβ "
             "μεγλοβιομηχ μικροβιομηχ νταβ ξηροκλιβ ολιγοδαμ ολογαλ "
             "πενταρφ περηφ περιτρ πλατ πολυδαπ πολυμηχ στεφ ταβ τετ "
             "υπερηφ υποκοπ χαμηλοδαπ ψηλοταβ")
exc_r10  = ("οδ αιρ φορ ταθ διαθ σχ ενδ ευρ τιθ υπερθ ραθ ενθ ροθ σθ πυρ "
            "αιν συνδ συν συνθ χωρ πον βρ καθ ευθ εκθ νετ ρον αρκ βαρ βολ "
            "ωφελ")  # ends-with
exc_r13i = S("π απ συμπ ασυμπ ακαταπ αμεταμφ")
exc_r13e = S("αλ αρ εκτελ ζ μ ξ παρακαλ προ νισ")
exc_r14w = ("σκωλ σκουλ ναρθ σφ οθ πιθ")              # ends-with
exc_r14e = S("διαθ θ παρακαταθ προσθ συνθ")
exc_r15e = S("φαρμακ χαδ αγκ αναρρ βρομ εκλιπ λαμπιδ λεχ μ πατ ρ λ μεδ "
             "μεσαζ υποτειν αμ αιθ ανηκ δεσποζ ενδιαφερ")
exc_r15w = ("ποδαρ βλεπ πανταχ φρυδ μαντιλ μαλλ κυματ λαχ ληγ φαγ ομ πρωτ")
exc_r16w = ("οφ πελ χορτ λοχ σφ ρπ φρ πρ σμην κολλ")  # ends-with
exc_r16x = ("ψοφ ναυλοχ")                              # ends-with exclusions
exc_r17  = S("ν χερσον δωδεκαν ερημον μεγαλον επταν")
exc_r18  = S("ασβ σβ αχρ χρ απλ αειμν δυσχρ ευχρ κοινοχρ παλιμψ")
exc_r19  = S("ν ρ σπι στραβομουτσ κακομουτσ εξων")
exc_r20  = S("παρασουσ φ χ ωριοπλ αζ αλλοσουσ ασουσ")

rule21_sfx = ("α αγατε αγαν αει αμαι αν ασ ασαι αται αω ε ει εισ ειτε "
              "εσαι εσ εται η ηδεσ ηδων ηθει ηθεισ ηθειτε ηθηκατε "
              "ηθηκαν ηθουν ηθω ηκατε ηκαν ησ ησαν ησατε ησει ησεσ ησουν "
              "ησω ι ιεμαι ιεμαστε ιεσαι ιεσαστε ιεται ιομασταν ιομουν "
              "ιομουνα ιονταν ιοντουσαν ιοσασταν ιοσαστε ιοσουν ιοσουνα "
              "ιοταν ιουμα ιουμαστε ιουνται ιουνταν ο οι ομαι ομασταν "
              "ομουν ομουνα ονται ονταν οντουσαν οσ οσασταν οσαστε οσουν "
              "οσουνα οταν ου ουμαι ουμαστε ουν ουνται ουνταν ουσ ουσαν "
              "ουσατε υ υσ ω ων").split()
rule22_sfx = "εστερ εστατ οτερ οτατ υτερ υτατ ωτερ ωτατ".split()

def ew(st, lst):
    return any(st.endswith(x) for x in lst.split()) if isinstance(lst, str) \
        else any(st.endswith(x) for x in lst)

def stem(word):
    w = norm(word)
    if len(w) < 3:
        return w
    if w == "ισα":
        return "ισ"
    if w == "πιανε":   # observed whole-word oddity of the PG dictionary
        return "παναν"
    g = G(w)

    # step1: ends-with replace
    for sfx, rep in step1_list:
        if g.w.endswith(sfx) and len(g.w) >= len(sfx):
            g.w = g.w[: len(g.w) - len(sfx)] + rep
            g.test1 = False
            break

    def rule(fam, exacts=(), endswiths=(), unset_on_delete=True,
             vowel=None, vowel_add=None, keep_flag=False):
        """fam: dict suffix-> (applies uniformly); exacts: [(set, readd)];
        endswiths: [(tuple_or_str, readd, exclude)]"""
        s = match(g.w, fam)
        if s is None:
            return False
        st = g.w[: len(g.w) - len(s)]
        g.w = st
        for es, readd in exacts:
            if st in es:
                g.w = st + readd
                if not keep_flag:
                    g.test1 = False
                return True
        for lst, readd, excl in endswiths:
            if ew(st, lst) and not (excl and ew(st, excl)):
                g.w = st + readd
                if not keep_flag:
                    g.test1 = False
                return True
        if vowel is not None and st and st[-1] in vowel:
            g.w = st + vowel_add
            if not keep_flag:
                g.test1 = False
            return True
        if unset_on_delete and not keep_flag:
            g.test1 = False
        return True

    # s1 ιζ
    rule("ιζα ιζεσ ιζε ιζαμε ιζατε ιζαν ιζανε ιζω ιζεισ ιζει ιζουμε "
         "ιζετε ιζουν ιζουνε".split(),
         exacts=[(exc_s1i, "ι"), (exc_s1iz, "ιζ")])
    # s2 ωθηκ (βι/λι are exact entries that also drop their ι)
    fired = rule("ωθηκα ωθηκεσ ωθηκε ωθηκαμε ωθηκατε ωθηκαν ωθηκανε".split(),
         exacts=[(exc_s2, "ων")])
    if fired and g.w in ("βι", "λι"):
        g.w = g.w[:-1]
    # s3 ισ
    rule("ισα ισεσ ισε ισαμε ισατε ισαν ισανε".split(),
         exacts=[(exc_s3i, "ι"), (exc_s3is, "ισ")])
    # s4 ισω
    rule("ισω ισεισ ισει ισουμε ισετε ισουν ισουνε".split(),
         exacts=[(exc_s4, "ι")])
    # s5 ιστ
    rule("ιστοσ ιστου ιστο ιστε ιστοι ιστων ιστουσ ιστη ιστησ ιστα "
         "ιστεσ".split(),
         exacts=[(exc_s5ist, "ιστ"), (exc_s5i, "ι")])
    # s6 ισμ
    s = match(g.w, "ισμο ισμοι ισμοσ ισμου ισμουσ ισμων".split())
    if s:
        st = g.w[: len(g.w) - len(s)]
        g.w = st
        g.test1 = False
        if st == "σε":
            g.w = st + "ισμ"
        elif ew(st, exc_s6ik) or ew(st, exc_s6in):
            g.w = st[:-2]
    # s7 αρακι/ουδακι
    rule("αρακι αρακια ουδακι ουδακια".split(), exacts=[(exc_s7, "αρακ")])
    # s8 ακι/ιτσα (one rule, ακ branch first, then ιτσ incl ends-κορ)
    s = match(g.w, "ακι ακια ιτσα ιτσασ ιτσεσ ιτσων".split())
    if s:
        st = g.w[: len(g.w) - len(s)]
        g.w = st
        g.test1 = False
        if st in exc_s8ak:
            g.w = st + "ακ"
        elif st in exc_s8its or st.endswith("κορ"):
            g.w = st + "ιτσ"
    # s9 ιδι
    rule("ιδιο ιδια ιδιων".split(), endswiths=[(exc_s9id, "ιδ", None)],
         vowel=set("ε"), vowel_add="ιδ")
    # s10 ισκ
    rule("ισκοσ ισκου ισκο ισκε".split(), exacts=[(exc_s10, "ισκ")])
    # 2a αδεσ/αδων: re-add αδ unless ends-with list
    s = match(g.w, ["αδεσ", "αδων"])
    if s:
        st = g.w[: len(g.w) - len(s)]
        g.w = st
        if not ew(st, exc_2a):
            g.w, g.test1 = st + "αδ", False
    # 2b εδεσ/εδων
    rule(["εδεσ", "εδων"], endswiths=[(exc_2b, "εδ", None)], keep_flag=True)
    # 2c ουδεσ/ουδων
    rule(["ουδεσ", "ουδων"], endswiths=[(exc_2c, "ουδ", None)], keep_flag=True)
    # 2d εωσ/εων (unsets)
    rule(["εωσ", "εων"], exacts=[(exc_2d, "ε")], unset_on_delete=True)
    # rule6 ια/ιου/ιων (unsets; vowel -> +ι)
    rule(["ια", "ιου", "ιων"], vowel=V, vowel_add="ι", unset_on_delete=True)
    # rule7 ικα/ικο/ικου/ικων (unsets; vowel or exact list -> +ικ)
    rule(["ικα", "ικο", "ικου", "ικων"], exacts=[(exc_r7, "ικ")],
         vowel=V, vowel_add="ικ", unset_on_delete=True)
    # rule8 αμε (long forms unconditional; bare αμε with exact exceptions)
    if g.w == "αγαμε":
        return "αγαμ"
    s = match(g.w, "αγαμε ησαμε ουσαμε ηκαμε ηθηκαμε".split())
    if s:
        g.w = g.w[: len(g.w) - len(s)]
        g.test1 = False
    else:
        s = match(g.w, ["αμε"])
        if s:
            st = g.w[:-3]
            g.w = st + "αμ" if st in exc_r8 else st
            g.test1 = False
    # rule9 ανε family; long forms delete with {τρ,τσ}->+αγαν; bare ανε
    # V2/exact->+αν
    s = match(g.w, "αγανε ησανε ουσανε ιοντανε ιοτανε ιουντανε οντανε "
                   "οτανε ουντανε ηκανε ηθηκανε".split())
    if s:
        st = g.w[: len(g.w) - len(s)]
        g.w = st + "αγαν" if st in ("τρ", "τσ") else st
        g.test1 = False
    else:
        s = match(g.w, ["ανε"])
        if s == "ανε":
            st = g.w[:-3]
            if (st and st[-1] in V2) or st in exc_r9:
                g.w = st + "αν"
            else:
                g.w = st
            g.test1 = False
    # rule10 ετε (ησετε unconditional; ετε V2/ends-with -> +ετ)
    s = match(g.w, ["ησετε"])
    if s:
        g.w = g.w[:-5]
        g.test1 = False
    else:
        s = match(g.w, ["ετε"])
        if s:
            st = g.w[:-3]
            if (st and st[-1] in V2) or ew(st, exc_r10) or st in ("δ", "θ"):
                g.w = st + "ετ"
            else:
                g.w = st
            g.test1 = False
    # rule11 οντασ/ωντασ
    s = match(g.w, ["οντασ", "ωντασ"])
    if s:
        st = g.w[:-5]
        if st == "αρχ":
            g.w = st + "οντ"
        elif st.endswith("κρε"):
            g.w = st + "ωντ"
        else:
            g.w = st
        g.test1 = False
    # rule12 ομαστε/ιομαστε
    s = match(g.w, ["ιομαστε", "ομαστε"])
    if s:
        st = g.w[: len(g.w) - len(s)]
        g.w = st + "ομαστ" if st == "ον" else st
        g.test1 = False
    # rule13 ιεστε / εστε
    s = match(g.w, ["ιεστε"])
    if s:
        st = g.w[:-5]
        g.w = st + "ιεστ" if st in exc_r13i else st
        g.test1 = False
    else:
        s = match(g.w, ["εστε"])
        if s:
            st = g.w[:-4]
            g.w = st + "ιεστ" if st in exc_r13e else st
            g.test1 = False
    # rule14 ηθηκ- unconditional; ηκα/ηκεσ/ηκε with exceptions
    s = match(g.w, "ηθηκα ηθηκεσ ηθηκε".split())
    if s:
        g.w = g.w[: len(g.w) - len(s)]
        g.test1 = False
    else:
        s = match(g.w, "ηκα ηκεσ ηκε".split())
        if s:
            st = g.w[: len(g.w) - len(s)]
            if ew(st, exc_r14w) or st in exc_r14e:
                g.w = st + "ηκ"
            else:
                g.w = st
            g.test1 = False
    # rule15 ουσα/ουσεσ/ουσε
    s = match(g.w, "ουσα ουσεσ ουσε".split())
    if s:
        st = g.w[: len(g.w) - len(s)]
        if st in exc_r15e or ew(st, exc_r15w):
            g.w = st + "ουσ"
        else:
            g.w = st
        g.test1 = False
    # rule16 αγα/αγεσ/αγε
    s = match(g.w, "αγα αγεσ αγε".split())
    if s:
        st = g.w[: len(g.w) - len(s)]
        if (ew(st, exc_r16w) and not ew(st, exc_r16x)) or \
           st in ("λ", "τ", "ρ", "π", "μ"):
            g.w = st + "αγ"
        else:
            g.w = st
        g.test1 = False
    # rule17 ησε/ησου/ησα
    s = match(g.w, "ησε ησου ησα".split())
    if s:
        st = g.w[: len(g.w) - len(s)]
        g.w = st + "ησ" if st in exc_r17 else st
        g.test1 = False
    # rule18 ηστε
    s = match(g.w, ["ηστε"])
    if s:
        st = g.w[:-4]
        g.w = st + "ηστ" if st in exc_r18 else st
        g.test1 = False
    # rule19 ουνε/ησουνε/ηθουνε
    s = match(g.w, "ουνε ησουνε ηθουνε".split())
    if s:
        st = g.w[: len(g.w) - len(s)]
        g.w = st + "ουν" if st in exc_r19 else st
        g.test1 = False
    # rule20 ουμε/ησουμε/ηθουμε
    s = match(g.w, "ουμε ησουμε ηθουμε".split())
    if s:
        st = g.w[: len(g.w) - len(s)]
        g.w = st + "ουμ" if st in exc_r20 else st
        g.test1 = False
    # residual rule21
    if g.test1:
        s = match(g.w, ["ματα", "ματων", "ματοσ"])
        if s:
            g.w = g.w[: len(g.w) - len(s)] + "μα"
        s = match(g.w, rule21_sfx)
        if s:
            g.w = g.w[: len(g.w) - len(s)]
    # rule22 comparatives
    s = match(g.w, rule22_sfx)
    if s:
        g.w = g.w[: len(g.w) - len(s)]
    # an empty stem is surfaced by PG as {} -> the original token survives
    return g.w if g.w else word

def main():
    import glob
    # the prefix stress corpus is kept once, with the test resources
    stress = os.path.join(os.path.dirname(os.path.abspath(__file__)),
        "..", "..", "src", "test", "resources", "snowball", "greek_prefix_stress.tsv")
    files = sys.argv[1:] or sorted(glob.glob("greek_*.tsv")) + [stress]
    pairs = []
    for f in files:
        if f.endswith(".tsv"):
            pairs += [tuple(l.rstrip("\n").split("\t")) for l in open(f)]
    bad = []
    for w, expect in pairs:
        got = stem(w)
        if got != expect:
            bad.append((w, expect, got))
    print(f"mismatches: {len(bad)}/{len(pairs)}")
    from collections import Counter
    c = Counter(norm(w)[-4:] for w, _, _ in bad)
    for k, n in c.most_common(20):
        print(" ", k, n)
    for w, e, g in bad[:40]:
        print(f"  {w}  expect={e}  got={g}")

if __name__ == "__main__":
    main()
