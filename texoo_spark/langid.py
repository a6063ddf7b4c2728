"""Deterministic n-gram-profile language identification (T6).

The reference delegates language detection to an n-gram profile detector
(ref: texoo-core/.../preprocess/DocumentFactory.java:269-276, optimaize
language-detector). This module implements the same published technique
(Cavnar & Trenkle 1994 character-n-gram profiles, optimaize-style
log-probability scoring) from scratch:

- per-language character-TRIGRAM profiles built at import time from the
  deterministic seed corpora below (authored common text, ~250 words per
  language; the repo stays hermetic — no downloaded models);
- a text is scored per language by summing INTEGER milli-nat log
  probabilities of its word-padded trigrams ('#word#' windows), missing
  trigrams costing a per-language floor penalty. Integer weights make the
  score an exact integer in every engine (the DuckDB oracle replays the
  same maps — float summation order can never flip an argmax);
- script short-circuits for zh/ja/ko (Han / Kana / Hangul ranges) and for
  single-language scripts el (Greek) / hi (Devanagari), like the
  reference's detector;
- script-ROUTED profile groups: Cyrillic text is scored against ru/uk/bg
  profiles over a Cyrillic word class, Arabic-script text against ar/fa
  profiles, everything else against the Latin group — so close languages
  sharing a script are separated by the same trigram machinery;
- "" (unknown) below an average-log-probability evidence floor, matching
  the reference's "unknown -> empty string" contract.

Languages: en de fr es it pt nl sv pl tr fi cs hu ro vi id da no sk
hr sl lt lv et ms tl (Latin group), ru sr be mk uk bg (Cyrillic
group), ar fa (Arabic-script group), zh/ja/ko/el/hi by script, plus
19 further single-dominant-language scripts (he th ka hy bn pa gu or
ta te kn ml si lo bo my km am dv) — 58 total.
"""

from __future__ import annotations

import math
import re

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# explicit letter classes shared VERBATIM with the SQL oracle twin — both
# engines must segment words identically (a broad \w would drag in
# engine-specific unicode tables)
_LETTERS = ("a-zàáâãäåæçèéêëìíîïñòóôõöøùúûüýÿ"
            "āăąćčďđēėęěğıłńňőœřśşšťūůűźżž"
            # Baltic (lt į ų, lv ģ ī ķ ļ ņ) + Slovak ĺ ľ ŕ
            "ģīįķĺļľņŕų"
            # Romanian comma-below + Vietnamese horn/extended vowels
            # (the U+1EA1-1EF9 range alternates cases; lower() runs
            # first, so the uppercase members are harmless)
            "șțơưạ-ỹ")
WORD_RE = r"[" + _LETTERS + r"]+"
_WORD = re.compile(WORD_RE)

# Cyrillic lowercase block U+0430-04FF (lower() runs first, historic
# letters harmless); Arabic block letters+tatweel+harakat U+0621-065F
# plus the extended letters U+066E-06FF (Persian پ چ ژ ک گ ی live
# there) — Arabic-Indic digits/punct U+0660-066D deliberately excluded.
_CYR_LETTERS = "а-ӿ"
_ARAB_LETTERS = "ء-ٟٮ-ۿ"
CYR_WORD_RE = r"[" + _CYR_LETTERS + r"]+"
ARAB_WORD_RE = r"[" + _ARAB_LETTERS + r"]+"
_CYR_WORD = re.compile(CYR_WORD_RE)
_ARAB_WORD = re.compile(ARAB_WORD_RE)

_KANA = re.compile(r"[ぁ-ゟ゠-ヿ]")       # hiragana + katakana
_HANGUL = re.compile(r"[가-힣ᄀ-ᇿ]")
_HAN = re.compile(r"[一-鿿]")
_GREEK = re.compile(r"[Ά-ώἀ-ῼ]")         # Greek + polytonic letters
# LETTERS only (U+0904-0939): Devanagari digits ०-९ are not evidence —
# an English doc quoting one localized numeral must not short-circuit
_DEVANAGARI = re.compile(r"[ऄ-ह]")
_CYR_ANY = re.compile(r"[Ѐ-ӿ]")           # U+0400-04FF (letters, either case)
# routing evidence = LETTER presence (the word class): Arabic-Indic
# digits / punctuation U+0660-066D never hijack the group routing
_ARAB_ANY = re.compile(r"[" + _ARAB_LETTERS + r"]")

# Additional single-dominant-language scripts (optimaize-style breadth):
# one Unicode LETTER range -> one language (digit/punctuation subranges
# deliberately excluded — localized numerals are not language evidence),
# shared VERBATIM with the SQL twin. Checked AFTER kana/hangul/han/el/hi,
# in this fixed order.
SCRIPT_LANGS: list[tuple[str, str]] = [
    ("he", "א-ת"),           # Hebrew
    ("th", "ก-ฮเ-ๅ"),        # Thai consonants + leading vowels
    ("ka", "ა-ჿ"),           # Georgian (Mkhedruli)
    ("hy", "Ա-ֆ"),           # Armenian
    ("bn", "অ-ৠ"),           # Bengali
    ("pa", "ਅ-ਫ਼"),           # Gurmukhi (Punjabi)
    ("gu", "અ-ૠ"),           # Gujarati
    ("or", "ଅ-ୠ"),           # Odia
    ("ta", "அ-ஹ"),           # Tamil
    ("te", "అ-ౠ"),           # Telugu
    ("kn", "ಅ-ೠ"),           # Kannada
    ("ml", "അ-ൠ"),           # Malayalam
    ("si", "අ-ෆ"),           # Sinhala
    ("lo", "ກ-ຽເ-ໄ"),        # Lao consonants + leading vowels
    ("bo", "ཀ-ྼ"),           # Tibetan
    ("my", "က-ဪ"),           # Myanmar
    ("km", "ក-ឳ"),           # Khmer
    ("am", "ሀ-ፚ"),           # Ethiopic (Amharic)
    ("dv", "ހ-ޱ"),           # Thaana (Dhivehi)
]
_SCRIPT_RES = [(lang, re.compile(f"[{rng}]")) for lang, rng in SCRIPT_LANGS]

# Seed corpora: deterministic, authored common prose per language
# (everyday-register sentences; enough mass for stable trigram profiles).
SEED_TEXT = {
    "en": ("the quick brown fox jumps over the lazy dog and runs through "
           "the green fields every morning before the sun rises over the "
           "hills where children play with their friends and families "
           "gather for breakfast while the birds sing in the old trees "
           "this is a story about people who live in a small town near "
           "the river and they have always known that the water brings "
           "both life and change to everyone who stays there during the "
           "long winter months when snow covers the ground and the days "
           "grow short but the nights are full of stars"
           " hello good morning thank you very much please and welcome m"
           "y friend how are you today i am fine we will meet again tomo"
           "rrow one two three four five six seven eight nine ten what i"
           "s your name where do you come from i would like some bread a"
           "nd water the weather is cold today but yesterday it was warm"
           " my house has many rooms and a large garden we eat dinner to"
           "gether every evening and talk about work school books music "
           "and everything that happened during the week because time go"
           "es by so quickly when you are happy with the people you love"
           " hello world this text is written in plain english we speak"
           " and write the english language"),
    "de": ("der schnelle braune fuchs springt über den faulen hund und "
           "läuft jeden morgen durch die grünen felder bevor die sonne "
           "über den hügeln aufgeht wo die kinder mit ihren freunden "
           "spielen und die familien sich zum frühstück versammeln "
           "während die vögel in den alten bäumen singen dies ist eine "
           "geschichte über menschen die in einer kleinen stadt am fluss "
           "leben und sie haben immer gewusst dass das wasser leben und "
           "veränderung für alle bringt die dort bleiben während der "
           "langen wintermonate wenn schnee den boden bedeckt und die "
           "tage kurz werden aber die nächte voller sterne sind"
           " hallo guten morgen vielen dank bitte und willkommen mein fr"
           "eund wie geht es dir heute mir geht es gut wir sehen uns mor"
           "gen wieder eins zwei drei vier fünf sechs sieben acht neun z"
           "ehn wie heißt du woher kommst du ich möchte etwas brot und w"
           "asser das wetter ist heute kalt aber gestern war es warm mei"
           "n haus hat viele zimmer und einen großen garten wir essen je"
           "den abend zusammen und sprechen über arbeit schule bücher mu"
           "sik und alles was in der woche passiert ist denn die zeit ve"
           "rgeht so schnell wenn man mit den menschen glücklich ist die"
           " man liebt"),
    "fr": ("le renard brun rapide saute par dessus le chien paresseux et "
           "court chaque matin à travers les champs verts avant que le "
           "soleil ne se lève sur les collines où les enfants jouent avec "
           "leurs amis et les familles se réunissent pour le petit "
           "déjeuner pendant que les oiseaux chantent dans les vieux "
           "arbres ceci est une histoire de gens qui vivent dans une "
           "petite ville près de la rivière et ils ont toujours su que "
           "l'eau apporte la vie et le changement à tous ceux qui restent "
           "pendant les longs mois d'hiver quand la neige couvre le sol "
           "et que les jours raccourcissent mais les nuits sont pleines "
           "d'étoiles"
           " bonjour bonne matinée merci beaucoup s'il vous plaît et bie"
           "nvenue mon ami comment allez vous aujourd'hui je vais bien n"
           "ous nous reverrons demain un deux trois quatre cinq six sept"
           " huit neuf dix comment tu t'appelles d'où viens tu je voudra"
           "is du pain et de l'eau le temps est froid aujourd'hui mais h"
           "ier il faisait chaud ma maison a beaucoup de pièces et un gr"
           "and jardin nous dînons ensemble chaque soir et parlons du tr"
           "avail de l'école des livres de la musique et de tout ce qui "
           "s'est passé pendant la semaine car le temps passe si vite qu"
           "and on est heureux avec les gens qu'on aime"),
    "es": ("el rápido zorro marrón salta sobre el perro perezoso y corre "
           "cada mañana por los campos verdes antes de que el sol salga "
           "sobre las colinas donde los niños juegan con sus amigos y las "
           "familias se reúnen para desayunar mientras los pájaros cantan "
           "en los árboles viejos esta es una historia sobre personas que "
           "viven en un pueblo pequeño cerca del río y siempre han sabido "
           "que el agua trae vida y cambio a todos los que se quedan "
           "durante los largos meses de invierno cuando la nieve cubre el "
           "suelo y los días se acortan pero las noches están llenas de "
           "estrellas"
           " hola buenos días muchas gracias por favor y bienvenido mi a"
           "migo cómo estás hoy estoy bien nos veremos mañana otra vez u"
           "no dos tres cuatro cinco seis siete ocho nueve diez cómo te "
           "llamas de dónde vienes quisiera un poco de pan y agua el tie"
           "mpo está frío hoy pero ayer hacía calor mi casa tiene muchas"
           " habitaciones y un jardín grande cenamos juntos cada noche y"
           " hablamos del trabajo de la escuela de los libros de la músi"
           "ca y de todo lo que pasó durante la semana porque el tiempo "
           "pasa muy rápido cuando estás feliz con la gente que quieres"),
    "it": ("la rapida volpe marrone salta sopra il cane pigro e corre "
           "ogni mattina attraverso i campi verdi prima che il sole sorga "
           "sulle colline dove i bambini giocano con i loro amici e le "
           "famiglie si riuniscono per la colazione mentre gli uccelli "
           "cantano sugli alberi vecchi questa è una storia di persone "
           "che vivono in una piccola città vicino al fiume e hanno "
           "sempre saputo che l'acqua porta vita e cambiamento a tutti "
           "quelli che restano durante i lunghi mesi invernali quando la "
           "neve copre il terreno e i giorni si accorciano ma le notti "
           "sono piene di stelle"
           " ciao buongiorno grazie mille per favore e benvenuto amico m"
           "io come stai oggi sto bene ci vediamo domani di nuovo uno du"
           "e tre quattro cinque sei sette otto nove dieci come ti chiam"
           "i da dove vieni vorrei un po' di pane e acqua il tempo è fre"
           "ddo oggi ma ieri faceva caldo la mia casa ha molte stanze e "
           "un grande giardino ceniamo insieme ogni sera e parliamo del "
           "lavoro della scuola dei libri della musica e di tutto quello"
           " che è successo durante la settimana perché il tempo passa c"
           "osì in fretta quando sei felice con le persone che ami"),
    "pt": ("a rápida raposa marrom pula sobre o cão preguiçoso e corre "
           "todas as manhãs pelos campos verdes antes que o sol nasça "
           "sobre as colinas onde as crianças brincam com os seus amigos "
           "e as famílias se reúnem para o café da manhã enquanto os "
           "pássaros cantam nas árvores velhas esta é uma história sobre "
           "pessoas que vivem numa cidade pequena perto do rio e elas "
           "sempre souberam que a água traz vida e mudança para todos os "
           "que ficam durante os longos meses de inverno quando a neve "
           "cobre o chão e os dias ficam curtos mas as noites estão "
           "cheias de estrelas"
           " olá bom dia muito obrigado por favor e bem vindo meu amigo "
           "como está você hoje estou bem vamos nos ver amanhã de novo u"
           "m dois três quatro cinco seis sete oito nove dez como você s"
           "e chama de onde você vem eu gostaria de um pouco de pão e ág"
           "ua o tempo está frio hoje mas ontem estava quente a minha ca"
           "sa tem muitos quartos e um jardim grande jantamos juntos tod"
           "as as noites e falamos sobre o trabalho a escola os livros a"
           " música e tudo o que aconteceu durante a semana porque o tem"
           "po passa muito rápido quando você está feliz com as pessoas "
           "que ama"),
    "nl": ("de snelle bruine vos springt over de luie hond en rent elke "
           "ochtend door de groene velden voordat de zon opkomt boven de "
           "heuvels waar de kinderen met hun vrienden spelen en de "
           "families zich verzamelen voor het ontbijt terwijl de vogels "
           "zingen in de oude bomen dit is een verhaal over mensen die in "
           "een klein stadje aan de rivier wonen en ze hebben altijd "
           "geweten dat het water leven en verandering brengt voor "
           "iedereen die blijft tijdens de lange wintermaanden wanneer "
           "sneeuw de grond bedekt en de dagen korter worden maar de "
           "nachten vol sterren zijn"
           " hallo goedemorgen dank je wel alsjeblieft en welkom mijn vr"
           "iend hoe gaat het met je vandaag het gaat goed we zien elkaa"
           "r morgen weer een twee drie vier vijf zes zeven acht negen t"
           "ien hoe heet je waar kom je vandaan ik wil graag wat brood e"
           "n water het weer is koud vandaag maar gisteren was het warm "
           "mijn huis heeft veel kamers en een grote tuin we eten elke a"
           "vond samen en praten over werk school boeken muziek en alles"
           " wat er in de week is gebeurd want de tijd gaat zo snel voor"
           "bij als je gelukkig bent met de mensen van wie je houdt"),
    "sv": ("den snabba bruna räven hoppar över den lata hunden och "
           "springer varje morgon genom de gröna fälten innan solen går "
           "upp över kullarna där barnen leker med sina vänner och "
           "familjerna samlas till frukost medan fåglarna sjunger i de "
           "gamla träden detta är en berättelse om människor som bor i en "
           "liten stad nära floden och de har alltid vetat att vattnet "
           "ger liv och förändring till alla som stannar under de långa "
           "vintermånaderna när snön täcker marken och dagarna blir korta "
           "men nätterna är fulla av stjärnor"
           " hej god morgon tack så mycket varsågod och välkommen min vä"
           "n hur mår du idag jag mår bra vi ses igen imorgon ett två tr"
           "e fyra fem sex sju åtta nio tio vad heter du var kommer du i"
           "från jag skulle vilja ha lite bröd och vatten vädret är kall"
           "t idag men igår var det varmt mitt hus har många rum och en "
           "stor trädgård vi äter middag tillsammans varje kväll och pra"
           "tar om arbete skola böcker musik och allt som hände under ve"
           "ckan för tiden går så fort när man är lycklig med människorn"
           "a man älskar"),
    "pl": ("szybki brązowy lis skacze nad leniwym psem i biegnie każdego "
           "ranka przez zielone pola zanim słońce wzejdzie nad wzgórzami "
           "gdzie dzieci bawią się ze swoimi przyjaciółmi a rodziny "
           "zbierają się na śniadanie podczas gdy ptaki śpiewają na "
           "starych drzewach to jest opowieść o ludziach którzy mieszkają "
           "w małym miasteczku nad rzeką i zawsze wiedzieli że woda "
           "przynosi życie i zmiany wszystkim którzy zostają podczas "
           "długich zimowych miesięcy kiedy śnieg pokrywa ziemię a dni "
           "stają się krótkie ale noce są pełne gwiazd"
           " cześć dzień dobry dziękuję bardzo proszę i witaj mój przyja"
           "cielu jak się masz dzisiaj mam się dobrze zobaczymy się jutr"
           "o znowu jeden dwa trzy cztery pięć sześć siedem osiem dziewi"
           "ęć dziesięć jak masz na imię skąd pochodzisz chciałbym troch"
           "ę chleba i wody pogoda jest dzisiaj zimna ale wczoraj było c"
           "iepło mój dom ma wiele pokoi i duży ogród jemy razem kolację"
           " każdego wieczoru i rozmawiamy o pracy szkole książkach muzy"
           "ce i o wszystkim co wydarzyło się w ciągu tygodnia bo czas p"
           "łynie tak szybko kiedy jesteś szczęśliwy z ludźmi których ko"
           "chasz"),
    "tr": ("hızlı kahverengi tilki tembel köpeğin üzerinden atlar ve her "
           "sabah güneş tepelerin üzerinden doğmadan önce yeşil "
           "tarlalarda koşar orada çocuklar arkadaşlarıyla oynar ve "
           "aileler kahvaltı için toplanır kuşlar yaşlı ağaçlarda şarkı "
           "söylerken bu nehrin yakınındaki küçük bir kasabada yaşayan "
           "insanlar hakkında bir hikayedir ve onlar suyun kalanlara "
           "yaşam ve değişim getirdiğini her zaman bilmişlerdir uzun kış "
           "aylarında kar toprağı kapladığında ve günler kısaldığında ama "
           "geceler yıldızlarla dolu olduğunda"
           " merhaba günaydın çok teşekkür ederim lütfen ve hoş geldin a"
           "rkadaşım bugün nasılsın iyiyim yarın tekrar görüşürüz bir ik"
           "i üç dört beş altı yedi sekiz dokuz on adın ne nereden geliy"
           "orsun biraz ekmek ve su istiyorum hava bugün soğuk ama dün s"
           "ıcaktı evimin birçok odası ve büyük bir bahçesi var her akşa"
           "m birlikte yemek yeriz ve iş okul kitaplar müzik ve hafta bo"
           "yunca olan her şey hakkında konuşuruz çünkü sevdiğin insanla"
           "rla mutlu olduğunda zaman çok hızlı geçer"),
}

SEED_TEXT.update({
    "fi": ("nopea ruskea kettu hyppää laiskan koiran yli ja juoksee joka "
           "aamu vihreiden peltojen halki ennen kuin aurinko nousee "
           "kukkuloiden yli missä lapset leikkivät ystäviensä kanssa ja "
           "perheet kokoontuvat aamiaiselle kun linnut laulavat vanhoissa "
           "puissa tämä on tarina ihmisistä jotka asuvat pienessä "
           "kaupungissa joen lähellä ja he ovat aina tienneet että vesi "
           "tuo elämää ja muutosta kaikille jotka jäävät pitkien "
           "talvikuukausien aikana kun lumi peittää maan ja päivät "
           "lyhenevät mutta yöt ovat täynnä tähtiä"
           " hei hyvää huomenta kiitos paljon ole hyvä ja tervetuloa "
           "ystäväni mitä kuuluu tänään voin hyvin näemme taas huomenna "
           "yksi kaksi kolme neljä viisi kuusi seitsemän kahdeksan "
           "yhdeksän kymmenen mikä sinun nimesi on mistä tulet haluaisin "
           "vähän leipää ja vettä sää on tänään kylmä mutta eilen oli "
           "lämmin talossani on monta huonetta ja suuri puutarha syömme "
           "illallista yhdessä joka ilta ja puhumme työstä koulusta "
           "kirjoista musiikista ja kaikesta mitä viikon aikana tapahtui "
           "koska aika kuluu niin nopeasti kun olet onnellinen rakkaiden "
           "ihmisten kanssa"
           " tämä teksti on kirjoitettu suomeksi me puhumme suomea"),
    "cs": ("rychlá hnědá liška skáče přes líného psa a běží každé ráno "
           "přes zelená pole než slunce vyjde nad kopci kde si děti "
           "hrají se svými přáteli a rodiny se scházejí na snídani "
           "zatímco ptáci zpívají na starých stromech toto je příběh o "
           "lidech kteří žijí v malém městě u řeky a vždy věděli že voda "
           "přináší život a změnu všem kteří zůstávají během dlouhých "
           "zimních měsíců když sníh pokrývá zemi a dny se krátí ale "
           "noci jsou plné hvězd"
           " ahoj dobré ráno děkuji mnohokrát prosím a vítej můj příteli "
           "jak se máš dnes mám se dobře uvidíme se zítra znovu jedna "
           "dva tři čtyři pět šest sedm osm devět deset jak se jmenuješ "
           "odkud jsi chtěl bych trochu chleba a vody počasí je dnes "
           "studené ale včera bylo teplo můj dům má mnoho pokojů a "
           "velkou zahradu večeříme spolu každý večer a mluvíme o práci "
           "škole knihách hudbě a o všem co se během týdne stalo protože "
           "čas běží tak rychle když jsi šťastný s lidmi které miluješ"
           " tento text je napsán česky mluvíme českým jazykem"),
    "hu": ("a gyors barna róka átugrik a lusta kutya felett és minden "
           "reggel átfut a zöld mezőkön mielőtt a nap felkel a dombok "
           "felett ahol a gyerekek a barátaikkal játszanak és a családok "
           "összegyűlnek reggelire miközben a madarak énekelnek az öreg "
           "fákon ez egy történet emberekről akik egy kis városban élnek "
           "a folyó mellett és mindig tudták hogy a víz életet és "
           "változást hoz mindenkinek aki marad a hosszú téli hónapok "
           "alatt amikor a hó befedi a földet és a napok rövidülnek de "
           "az éjszakák tele vannak csillagokkal"
           " szia jó reggelt köszönöm szépen kérem és üdvözöllek barátom "
           "hogy vagy ma jól vagyok holnap újra találkozunk egy kettő "
           "három négy öt hat hét nyolc kilenc tíz mi a neved honnan "
           "jössz szeretnék egy kis kenyeret és vizet az idő ma hideg de "
           "tegnap meleg volt a házamban sok szoba van és nagy kert "
           "együtt vacsorázunk minden este és beszélgetünk a munkáról az "
           "iskoláról könyvekről zenéről és mindenről ami a héten "
           "történt mert az idő olyan gyorsan telik amikor boldog vagy "
           "azokkal akiket szeretsz"
           " ez a szöveg magyarul íródott magyarul beszélünk"),
    "ro": ("vulpea maro rapidă sare peste câinele leneș și aleargă în "
           "fiecare dimineață prin câmpurile verzi înainte ca soarele să "
           "răsară peste dealuri unde copiii se joacă cu prietenii lor "
           "și familiile se adună la micul dejun în timp ce păsările "
           "cântă în copacii bătrâni aceasta este o poveste despre "
           "oameni care trăiesc într-un oraș mic lângă râu și au știut "
           "întotdeauna că apa aduce viață și schimbare tuturor celor "
           "care rămân în timpul lunilor lungi de iarnă când zăpada "
           "acoperă pământul și zilele devin scurte dar nopțile sunt "
           "pline de stele"
           " salut bună dimineața mulțumesc mult te rog și bine ai venit "
           "prietene ce mai faci azi sunt bine ne vedem mâine din nou "
           "unu doi trei patru cinci șase șapte opt nouă zece cum te "
           "cheamă de unde vii aș vrea puțină pâine și apă vremea este "
           "rece azi dar ieri a fost cald casa mea are multe camere și o "
           "grădină mare cinăm împreună în fiecare seară și vorbim "
           "despre muncă școală cărți muzică și despre tot ce s-a "
           "întâmplat în timpul săptămânii pentru că timpul trece atât "
           "de repede când ești fericit cu oamenii pe care îi iubești"
           " acest text este scris în limba română vorbim românește"),
    "vi": ("con cáo nâu nhanh nhẹn nhảy qua con chó lười biếng và chạy "
           "mỗi buổi sáng qua những cánh đồng xanh trước khi mặt trời "
           "mọc trên những ngọn đồi nơi trẻ em chơi với bạn bè và các "
           "gia đình tụ họp ăn sáng trong khi chim hót trên những cây cổ "
           "thụ đây là câu chuyện về những người sống trong một thị trấn "
           "nhỏ gần dòng sông và họ luôn biết rằng nước mang lại sự sống "
           "và thay đổi cho tất cả những ai ở lại trong những tháng mùa "
           "đông dài khi tuyết phủ mặt đất và ngày ngắn lại nhưng đêm "
           "đầy sao"
           " xin chào chào buổi sáng cảm ơn rất nhiều làm ơn và chào "
           "mừng bạn của tôi hôm nay bạn thế nào tôi khỏe chúng ta sẽ "
           "gặp lại vào ngày mai một hai ba bốn năm sáu bảy tám chín "
           "mười tên bạn là gì bạn đến từ đâu tôi muốn một ít bánh mì và "
           "nước thời tiết hôm nay lạnh nhưng hôm qua trời ấm nhà tôi có "
           "nhiều phòng và một khu vườn lớn chúng tôi ăn tối cùng nhau "
           "mỗi tối và nói về công việc trường học sách âm nhạc và mọi "
           "thứ đã xảy ra trong tuần vì thời gian trôi qua rất nhanh khi "
           "bạn hạnh phúc với những người bạn yêu thương"
           " văn bản này được viết bằng tiếng việt chúng tôi nói tiếng "
           "việt"),
    "id": ("rubah coklat yang cepat melompati anjing malas dan berlari "
           "setiap pagi melintasi ladang hijau sebelum matahari terbit "
           "di atas bukit tempat anak anak bermain dengan teman teman "
           "mereka dan keluarga berkumpul untuk sarapan sementara burung "
           "burung bernyanyi di pohon pohon tua ini adalah cerita "
           "tentang orang orang yang tinggal di kota kecil dekat sungai "
           "dan mereka selalu tahu bahwa air membawa kehidupan dan "
           "perubahan bagi semua yang tinggal selama bulan bulan musim "
           "dingin yang panjang ketika salju menutupi tanah dan hari "
           "hari menjadi pendek tetapi malam penuh bintang"
           " halo selamat pagi terima kasih banyak silakan dan selamat "
           "datang temanku apa kabar hari ini saya baik baik saja kita "
           "akan bertemu lagi besok satu dua tiga empat lima enam tujuh "
           "delapan sembilan sepuluh siapa namamu dari mana asalmu saya "
           "ingin sedikit roti dan air cuaca hari ini dingin tetapi "
           "kemarin hangat rumah saya punya banyak kamar dan kebun besar "
           "kami makan malam bersama setiap malam dan berbicara tentang "
           "pekerjaan sekolah buku musik dan semua yang terjadi selama "
           "minggu ini karena waktu berlalu begitu cepat ketika kamu "
           "bahagia dengan orang orang yang kamu cintai"
           " teks ini ditulis dalam bahasa indonesia kami berbicara "
           "bahasa indonesia"),
})

# Latin-script long tail (round 5): da no sk hr sl lt lv et ms tl.
# Same authored template (fox story + everyday greetings/numbers +
# a self-naming anchor sentence) so profile mass stays comparable.
# Close-language pairs (da/no, sk/cs, hr/sl, ms/id) deliberately use
# their divergent function words and orthography (da hvad/vejret vs
# no hva/været, sk cez/ďakujem vs cs přes/děkuji, hr i/u/tijekom vs
# sl in/v/med, ms ialah/kerana/khabar vs id adalah/karena/kabar).
SEED_TEXT.update({
    "da": ("den hurtige brune ræv springer over den dovne hund og løber "
           "hver morgen gennem de grønne marker før solen står op over "
           "bakkerne hvor børnene leger med deres venner og familierne "
           "samles til morgenmad mens fuglene synger i de gamle træer "
           "dette er en historie om mennesker der bor i en lille by nær "
           "floden og de har altid vidst at vandet bringer både liv og "
           "forandring til alle der bliver der i de lange vintermåneder "
           "når sneen dækker jorden og dagene bliver korte men nætterne "
           "er fulde af stjerner"
           " hej god morgen mange tak vær så venlig og velkommen min ven "
           "hvordan har du det i dag jeg har det godt vi ses igen i "
           "morgen en to tre fire fem seks syv otte ni ti hvad hedder du "
           "hvor kommer du fra jeg vil gerne have noget brød og vand "
           "vejret er koldt i dag men i går var det varmt mit hus har "
           "mange værelser og en stor have vi spiser aftensmad sammen "
           "hver aften og taler om arbejde skole bøger musik og alt hvad "
           "der er sket i løbet af ugen fordi tiden går så hurtigt når "
           "man er glad sammen med de mennesker man elsker"
           " denne tekst er skrevet på dansk vi taler dansk om vejret"),
    "no": ("den raske brune reven hopper over den late hunden og løper "
           "hver morgen gjennom de grønne markene før solen står opp "
           "over åsene der barna leker med vennene sine og familiene "
           "samles til frokost mens fuglene synger i de gamle trærne "
           "dette er en fortelling om mennesker som bor i en liten by "
           "nær elven og de har alltid visst at vannet bringer både liv "
           "og forandring til alle som blir der i de lange "
           "vintermånedene når snøen dekker bakken og dagene blir korte "
           "men nettene er fulle av stjerner"
           " hei god morgen tusen takk vær så snill og velkommen min "
           "venn hvordan har du det i dag jeg har det bra vi sees igjen "
           "i morgen en to tre fire fem seks sju åtte ni ti hva heter du "
           "hvor kommer du fra jeg vil gjerne ha litt brød og vann været "
           "er kaldt i dag men i går var det varmt huset mitt har mange "
           "rom og en stor hage vi spiser middag sammen hver kveld og "
           "snakker om arbeid skole bøker musikk og alt som har skjedd i "
           "løpet av uken fordi tiden går så fort når man er glad sammen "
           "med menneskene man er glad i"
           " denne teksten er skrevet på norsk vi snakker norsk om været"),
    "sk": ("rýchla hnedá líška skáče cez lenivého psa a beží každé ráno "
           "cez zelené polia skôr než slnko vyjde nad kopcami kde sa "
           "deti hrajú so svojimi priateľmi a rodiny sa schádzajú na "
           "raňajky zatiaľ čo vtáky spievajú na starých stromoch toto je "
           "príbeh o ľuďoch ktorí žijú v malom meste pri rieke a vždy "
           "vedeli že voda prináša život aj zmenu všetkým ktorí tam "
           "zostávajú počas dlhých zimných mesiacov keď sneh pokrýva zem "
           "a dni sa krátia ale noci sú plné hviezd"
           " ahoj dobré ráno ďakujem veľmi pekne prosím a vitaj môj "
           "priateľ ako sa máš dnes mám sa dobre uvidíme sa zajtra znova "
           "jeden dva tri štyri päť šesť sedem osem deväť desať ako sa "
           "voláš odkiaľ si chcel by som trochu chleba a vody počasie je "
           "dnes studené ale včera bolo teplo môj dom má veľa izieb a "
           "veľkú záhradu večeriame spolu každý večer a rozprávame sa o "
           "práci škole knihách hudbe a o všetkom čo sa stalo počas "
           "týždňa pretože čas beží tak rýchlo keď si šťastný s ľuďmi "
           "ktorých máš rád"
           " tento text je napísaný po slovensky hovoríme po slovensky"),
    "hr": ("brza smeđa lisica skače preko lijenog psa i trči svako jutro "
           "preko zelenih polja prije nego što sunce izađe iznad "
           "brežuljaka gdje se djeca igraju sa svojim prijateljima a "
           "obitelji se okupljaju na doručku dok ptice pjevaju na starim "
           "stablima ovo je priča o ljudima koji žive u malom gradu "
           "blizu rijeke i uvijek su znali da voda donosi život i "
           "promjenu svima koji ostaju tijekom dugih zimskih mjeseci "
           "kada snijeg prekriva zemlju i dani postaju kratki ali noći "
           "su pune zvijezda"
           " bok dobro jutro hvala lijepa molim i dobrodošao prijatelju "
           "kako si danas dobro sam vidimo se sutra opet jedan dva tri "
           "četiri pet šest sedam osam devet deset kako se zoveš odakle "
           "dolaziš želio bih malo kruha i vode vrijeme je danas hladno "
           "ali jučer je bilo toplo moja kuća ima mnogo soba i velik vrt "
           "večeramo zajedno svake večeri i razgovaramo o poslu školi "
           "knjigama glazbi i svemu što se dogodilo tijekom tjedna jer "
           "vrijeme prolazi tako brzo kada si sretan s ljudima koje "
           "voliš"
           " ovaj tekst je napisan na hrvatskom jeziku govorimo hrvatski"),
    "sl": ("hitra rjava lisica skoči čez lenega psa in teče vsako jutro "
           "čez zelena polja preden sonce vzide nad griči kjer se otroci "
           "igrajo s svojimi prijatelji in družine se zbirajo ob zajtrku "
           "medtem ko ptice pojejo na starih drevesih to je zgodba o "
           "ljudeh ki živijo v majhnem mestu ob reki in vedno so vedeli "
           "da voda prinaša življenje in spremembe vsem ki ostanejo med "
           "dolgimi zimskimi meseci ko sneg pokrije zemljo in dnevi "
           "postanejo kratki toda noči so polne zvezd"
           " živjo dobro jutro najlepša hvala prosim in dobrodošel moj "
           "prijatelj kako si danes dobro sem vidiva se spet jutri ena "
           "dve tri štiri pet šest sedem osem devet deset kako ti je ime "
           "od kod prihajaš rad bi malo kruha in vode vreme je danes "
           "hladno ampak včeraj je bilo toplo moja hiša ima veliko sob "
           "in velik vrt večerjamo skupaj vsak večer in se pogovarjamo o "
           "delu šoli knjigah glasbi in o vsem kar se je zgodilo med "
           "tednom ker čas teče tako hitro ko si srečen z ljudmi ki jih "
           "imaš rad"
           " to besedilo je napisano v slovenščini govorimo slovensko"),
    "lt": ("greita ruda lapė šoka per tingų šunį ir bėga kiekvieną rytą "
           "per žalius laukus prieš saulei patekant virš kalvų kur "
           "vaikai žaidžia su savo draugais o šeimos renkasi pusryčių "
           "kol paukščiai gieda senuose medžiuose tai istorija apie "
           "žmones kurie gyvena mažame mieste prie upės ir jie visada "
           "žinojo kad vanduo atneša gyvybę ir pokyčius visiems kurie "
           "lieka per ilgus žiemos mėnesius kai sniegas padengia žemę ir "
           "dienos trumpėja bet naktys pilnos žvaigždžių"
           " labas laba diena ačiū labai prašau ir sveikas atvykęs mano "
           "drauge kaip tau sekasi šiandien man sekasi gerai "
           "pasimatysime vėl rytoj vienas du trys keturi penki šeši "
           "septyni aštuoni devyni dešimt koks tavo vardas iš kur tu esi "
           "norėčiau truputį duonos ir vandens oras šiandien šaltas bet "
           "vakar buvo šilta mano namuose daug kambarių ir didelis sodas "
           "vakarieniaujame kartu kiekvieną vakarą ir kalbame apie darbą "
           "mokyklą knygas muziką ir viską kas nutiko per savaitę nes "
           "laikas bėga taip greitai kai esi laimingas su žmonėmis "
           "kuriuos myli"
           " šis tekstas parašytas lietuvių kalba mes kalbame "
           "lietuviškai"),
    "lv": ("ātra brūna lapsa lec pāri slinkam sunim un skrien katru rītu "
           "pāri zaļiem laukiem pirms saule uzlec virs pakalniem kur "
           "bērni spēlējas ar saviem draugiem un ģimenes pulcējas "
           "brokastīs kamēr putni dzied vecos kokos šis ir stāsts par "
           "cilvēkiem kas dzīvo mazā pilsētā pie upes un viņi vienmēr ir "
           "zinājuši ka ūdens nes dzīvību un pārmaiņas visiem kas paliek "
           "garajos ziemas mēnešos kad sniegs pārklāj zemi un dienas "
           "kļūst īsas bet naktis ir pilnas zvaigžņu"
           " sveiki labrīt liels paldies lūdzu un laipni lūdzam mans "
           "draugs kā tev klājas šodien man klājas labi tiksimies atkal "
           "rīt viens divi trīs četri pieci seši septiņi astoņi deviņi "
           "desmit kāds ir tavs vārds no kurienes tu esi es vēlētos "
           "nedaudz maizes un ūdens laiks šodien ir auksts bet vakar "
           "bija silts manā mājā ir daudz istabu un liels dārzs mēs "
           "vakariņojam kopā katru vakaru un runājam par darbu skolu "
           "grāmatām mūziku un visu kas noticis nedēļas laikā jo laiks "
           "skrien tik ātri kad esi laimīgs ar cilvēkiem kurus mīli"
           " šis teksts ir uzrakstīts latviešu valodā mēs runājam "
           "latviski"),
    "et": ("kiire pruun rebane hüppab üle laisa koera ja jookseb igal "
           "hommikul läbi roheliste põldude enne kui päike tõuseb "
           "küngaste kohale kus lapsed mängivad oma sõpradega ja pered "
           "kogunevad hommikusöögile samal ajal kui linnud laulavad "
           "vanades puudes see on lugu inimestest kes elavad väikeses "
           "linnas jõe ääres ja nad on alati teadnud et vesi toob nii "
           "elu kui ka muutusi kõigile kes jäävad sinna pikkade "
           "talvekuude jooksul kui lumi katab maad ja päevad jäävad "
           "lühikeseks aga ööd on tähti täis"
           " tere tere hommikust suur tänu palun ja tere tulemast mu "
           "sõber kuidas sul täna läheb mul läheb hästi näeme homme "
           "jälle üks kaks kolm neli viis kuus seitse kaheksa üheksa "
           "kümme mis su nimi on kust sa pärit oled ma sooviksin natuke "
           "leiba ja vett ilm on täna külm aga eile oli soe minu majas "
           "on palju tube ja suur aed me sööme õhtust koos igal õhtul ja "
           "räägime tööst koolist raamatutest muusikast ja kõigest mis "
           "nädala jooksul juhtus sest aeg läheb nii kiiresti kui oled "
           "õnnelik inimestega keda armastad"
           " see tekst on kirjutatud eesti keeles me räägime eesti "
           "keelt"),
    "ms": ("rubah perang yang pantas melompat ke atas anjing yang malas "
           "dan berlari setiap pagi melintasi padang hijau sebelum "
           "matahari terbit di atas bukit tempat kanak kanak bermain "
           "dengan kawan kawan mereka dan keluarga berkumpul untuk "
           "sarapan sementara burung burung berkicau di atas pokok "
           "pokok tua ini ialah kisah tentang orang yang tinggal di "
           "sebuah pekan kecil berhampiran sungai dan mereka sentiasa "
           "tahu bahawa air membawa kehidupan dan perubahan kepada "
           "semua yang tinggal di situ sepanjang bulan bulan musim "
           "sejuk yang panjang apabila salji menutupi tanah dan siang "
           "menjadi pendek tetapi malam penuh dengan bintang"
           " helo apa khabar kawanku sila dan selamat datang hari ini "
           "saya sihat kita akan berjumpa lagi esok satu dua tiga empat "
           "lima enam tujuh lapan sembilan sepuluh siapakah nama awak "
           "dari manakah awak datang saya mahu sedikit roti dan air "
           "cuaca hari ini sejuk tetapi semalam panas rumah saya "
           "mempunyai banyak bilik dan kebun yang besar kami makan "
           "malam bersama sama setiap petang dan bercakap tentang kerja "
           "sekolah buku muzik dan semua yang berlaku sepanjang minggu "
           "ini kerana masa berlalu begitu pantas apabila awak gembira "
           "dengan orang yang awak sayangi"
           " teks ini ditulis dalam bahasa melayu kami bercakap bahasa "
           "melayu"),
    "tl": ("ang mabilis na kayumangging soro ay tumatalon sa ibabaw ng "
           "tamad na aso at tumatakbo tuwing umaga sa luntiang parang "
           "bago sumikat ang araw sa ibabaw ng mga burol kung saan "
           "naglalaro ang mga bata kasama ang kanilang mga kaibigan at "
           "nagtitipon ang mga pamilya para sa almusal habang umaawit "
           "ang mga ibon sa matatandang puno ito ay kuwento tungkol sa "
           "mga taong nakatira sa maliit na bayan malapit sa ilog at "
           "lagi nilang alam na ang tubig ay nagdadala ng buhay at "
           "pagbabago sa lahat ng nananatili doon sa mahahabang buwan "
           "ng taglamig kapag natatakpan ng niyebe ang lupa at umiikli "
           "ang mga araw ngunit puno ng mga bituin ang mga gabi"
           " kumusta magandang umaga maraming salamat pakiusap at "
           "maligayang pagdating aking kaibigan kumusta ka ngayon "
           "mabuti naman ako magkikita tayong muli bukas isa dalawa "
           "tatlo apat lima anim pito walo siyam sampu ano ang pangalan "
           "mo saan ka nanggaling gusto ko ng kaunting tinapay at tubig "
           "malamig ang panahon ngayon ngunit mainit kahapon maraming "
           "silid ang aking bahay at malaki ang hardin sabay kaming "
           "naghahapunan tuwing gabi at nag uusap tungkol sa trabaho "
           "paaralan mga libro musika at lahat ng nangyari ngayong "
           "linggo dahil mabilis lumipas ang oras kapag masaya ka "
           "kasama ang mga taong mahal mo"
           " ang tekstong ito ay nakasulat sa wikang tagalog "
           "nagsasalita kami ng tagalog"),
})

# Cyrillic-script group: same authored template (fox story + everyday
# greetings/numbers) so the profile mass is comparable across groups.
SEED_TEXT_CYR = {
    "ru": ("быстрая коричневая лиса прыгает через ленивую собаку и бежит "
           "каждое утро через зелёные поля прежде чем солнце взойдёт над "
           "холмами где дети играют со своими друзьями а семьи собираются "
           "на завтрак пока птицы поют на старых деревьях это история о "
           "людях которые живут в маленьком городе у реки и они всегда "
           "знали что вода приносит жизнь и перемены всем кто остаётся в "
           "течение долгих зимних месяцев когда снег покрывает землю и "
           "дни становятся короткими но ночи полны звёзд"
           " привет как дела у тебя всё хорошо доброе утро большое "
           "спасибо пожалуйста и добро "
           "пожаловать мой друг как ты сегодня я хорошо мы увидимся "
           "завтра снова один два три четыре пять шесть семь восемь "
           "девять десять как тебя зовут откуда ты я хотел бы немного "
           "хлеба и воды погода сегодня холодная но вчера было тепло в "
           "моём доме много комнат и большой сад мы ужинаем вместе каждый "
           "вечер и говорим о работе школе книгах музыке и обо всём что "
           "случилось за неделю потому что время летит так быстро когда "
           "ты счастлив с людьми которых любишь"
           " это русский текст мы говорим и пишем на русском языке"),
    # round 5: sr (ekavian Serbian Cyrillic), be, mk — close pairs
    # (sr vs ru/bg, be vs uk/ru, mk vs bg) separated by their divergent
    # function words and the letters only they use (sr ј љ њ ћ ђ џ,
    # be ў і, mk ј ќ ѓ ѕ)
    "sr": ("брза смеђа лисица скаче преко лењог пса и трчи свако јутро "
           "преко зелених поља пре него што сунце изађе изнад брежуљака "
           "где се деца играју са својим пријатељима а породице се "
           "окупљају на доручку док птице певају на старом дрвећу ово је "
           "прича о људима који живе у малом граду близу реке и увек су "
           "знали да вода доноси живот и промену свима који остају током "
           "дугих зимских месеци када снег прекрива земљу и дани постају "
           "кратки али ноћи су пуне звезда"
           " здраво добро јутро хвала лепо молим и добродошао пријатељу "
           "како си данас добро сам видимо се сутра опет један два три "
           "четири пет шест седам осам девет десет како се зовеш одакле "
           "долазиш желео бих мало хлеба и воде време је данас хладно "
           "али јуче је било топло моја кућа има много соба и велики врт "
           "вечерамо заједно сваке вечери и разговарамо о послу школи "
           "књигама музици и свему што се догодило током недеље јер "
           "време пролази тако брзо када си срећан са људима које волиш"
           " овај текст је написан на српском језику говоримо српски"),
    "be": ("хуткая карычневая лісіца скача праз лянівага сабаку і "
           "бяжыць кожную раніцу праз зялёныя палі перш чым сонца "
           "ўзыдзе над узгоркамі дзе дзеці гуляюць са сваімі сябрамі а "
           "сем'і збіраюцца на сняданак пакуль птушкі спяваюць на "
           "старых дрэвах гэта гісторыя пра людзей якія жывуць у "
           "маленькім горадзе каля ракі і яны заўсёды ведалі што вада "
           "прыносіць жыццё і перамены ўсім хто застаецца на працягу "
           "доўгіх зімовых месяцаў калі снег пакрывае зямлю і дні "
           "становяцца кароткімі але ночы поўныя зорак"
           " прывітанне добрай раніцы вялікі дзякуй калі ласка і "
           "сардэчна запрашаем мой сябар як ты сёння у мяне ўсё добра "
           "мы ўбачымся заўтра зноў адзін два тры чатыры пяць шэсць сем "
           "восем дзевяць дзесяць як цябе завуць адкуль ты я хацеў бы "
           "трохі хлеба і вады надворе сёння халоднае але ўчора было "
           "цёпла у маім доме шмат пакояў і вялікі сад мы вячэраем "
           "разам кожны вечар і размаўляем пра працу школу кнігі музыку "
           "і пра ўсё што адбылося за тыдзень бо час ляціць так хутка "
           "калі ты шчаслівы з людзьмі якіх любіш"
           " гэта беларускі тэкст мы размаўляем па беларуску"),
    "mk": ("брзата кафеава лисица скока преку мрзливото куче и трча "
           "секое утро преку зелените полиња пред сонцето да изгрее над "
           "ридовите каде децата си играат со своите пријатели а "
           "семејствата се собираат на појадок додека птиците пеат на "
           "старите дрвја ова е приказна за луѓе кои живеат во мал град "
           "покрај реката и тие секогаш знаеле дека водата носи живот и "
           "промени за сите кои остануваат во текот на долгите зимски "
           "месеци кога снегот ја покрива земјата и дните стануваат "
           "кратки но ноќите се полни со ѕвезди"
           " здраво добро утро многу благодарам ве молам и добредојде "
           "пријателе како си денес јас сум добро ќе се видиме утре "
           "повторно еден два три четири пет шест седум осум девет "
           "десет како се викаш од каде доаѓаш би сакал малку леб и "
           "вода времето денес е студено но вчера беше топло мојата "
           "куќа има многу соби и голема градина вечераме заедно секоја "
           "вечер и зборуваме за работа училиште книги музика и сето "
           "она што се случи во текот на неделата бидејќи времето "
           "минува толку брзо кога си среќен со луѓето што ги сакаш"
           " ова е македонски текст ние зборуваме македонски"),
    "uk": ("швидка коричнева лисиця стрибає через ледачого пса і біжить "
           "щоранку через зелені поля перш ніж сонце зійде над пагорбами "
           "де діти граються зі своїми друзями а родини збираються на "
           "сніданок поки птахи співають на старих деревах це історія про "
           "людей які живуть у маленькому місті біля річки і вони завжди "
           "знали що вода приносить життя і зміни всім хто залишається "
           "протягом довгих зимових місяців коли сніг вкриває землю і дні "
           "стають короткими але ночі повні зірок"
           " привіт доброго ранку дуже дякую будь ласка і ласкаво просимо "
           "мій друже як ти сьогодні у мене все добре ми побачимося "
           "завтра знову один два три чотири п'ять шість сім вісім "
           "дев'ять десять як тебе звати звідки ти я хотів би трохи хліба "
           "і води погода сьогодні холодна але вчора було тепло у моєму "
           "домі багато кімнат і великий сад ми вечеряємо разом щовечора "
           "і говоримо про роботу школу книги музику і про все що сталося "
           "за тиждень бо час минає так швидко коли ти щасливий з людьми "
           "яких любиш"
           " це український текст ми розмовляємо українською мовою"),
    "bg": ("бързата кафява лисица скача през мързеливото куче и тича "
           "всяка сутрин през зелените полета преди слънцето да изгрее "
           "над хълмовете където децата играят със своите приятели а "
           "семействата се събират за закуска докато птиците пеят на "
           "старите дървета това е история за хора които живеят в малък "
           "град до реката и те винаги са знаели че водата носи живот и "
           "промяна на всички които остават през дългите зимни месеци "
           "когато снегът покрива земята и дните стават къси но нощите са "
           "пълни със звезди"
           " здравей добро утро много благодаря моля и добре дошъл "
           "приятелю как си днес аз съм добре ще се видим утре отново "
           "едно две три четири пет шест седем осем девет десет как се "
           "казваш откъде идваш бих искал малко хляб и вода времето днес "
           "е студено но вчера беше топло моята къща има много стаи и "
           "голяма градина вечеряме заедно всяка вечер и говорим за "
           "работа училище книги музика и всичко което се случи през "
           "седмицата защото времето минава толкова бързо когато си "
           "щастлив с хората които обичаш"
           " това е български текст ние говорим на български език"),
}

# Arabic-script group (ar vs fa separated by their very different
# function words and the Persian-only letters پ چ ژ گ).
SEED_TEXT_ARAB = {
    "ar": ("الثعلب البني السريع يقفز فوق الكلب الكسول ويركض كل صباح عبر "
           "الحقول الخضراء قبل أن تشرق الشمس فوق التلال حيث يلعب الأطفال "
           "مع أصدقائهم وتجتمع العائلات لتناول الفطور بينما تغني الطيور "
           "في الأشجار القديمة هذه قصة عن أناس يعيشون في مدينة صغيرة قرب "
           "النهر وقد عرفوا دائما أن الماء يجلب الحياة والتغيير لكل من "
           "يبقى خلال أشهر الشتاء الطويلة عندما يغطي الثلج الأرض وتصبح "
           "الأيام قصيرة لكن الليالي مليئة بالنجوم"
           " مرحبا صباح الخير شكرا جزيلا من فضلك وأهلا بك يا صديقي كيف "
           "حالك اليوم أنا بخير سنلتقي غدا مرة أخرى واحد اثنان ثلاثة "
           "أربعة خمسة ستة سبعة ثمانية تسعة عشرة ما اسمك من أين أنت أريد "
           "بعض الخبز والماء الطقس بارد اليوم لكن أمس كان دافئا بيتي فيه "
           "غرف كثيرة وحديقة كبيرة نتناول العشاء معا كل مساء ونتحدث عن "
           "العمل والمدرسة والكتب والموسيقى وكل ما حدث خلال الأسبوع لأن "
           "الوقت يمر بسرعة عندما تكون سعيدا مع الناس الذين تحبهم"
           " هذا نص عربي نحن نتكلم ونكتب باللغة العربية"),
    "fa": ("روباه قهوه ای سریع از روی سگ تنبل می پرد و هر صبح از میان "
           "مزارع سبز می دود پیش از آنکه خورشید بر فراز تپه ها طلوع کند "
           "جایی که کودکان با دوستان خود بازی می کنند و خانواده ها برای "
           "صبحانه جمع می شوند در حالی که پرندگان در درختان کهن آواز می "
           "خوانند این داستانی است درباره مردمی که در شهری کوچک نزدیک "
           "رودخانه زندگی می کنند و همیشه می دانستند که آب زندگی و تغییر "
           "را برای همه کسانی که می مانند می آورد در طول ماه های بلند "
           "زمستان وقتی برف زمین را می پوشاند و روزها کوتاه می شوند اما "
           "شب ها پر از ستاره هستند"
           " سلام صبح بخیر خیلی ممنون لطفا و خوش آمدی دوست من امروز حالت "
           "چطور است من خوبم فردا دوباره همدیگر را می بینیم یک دو سه "
           "چهار پنج شش هفت هشت نه ده اسمت چیست اهل کجا هستی کمی نان و "
           "آب می خواهم هوا امروز سرد است اما دیروز گرم بود خانه من اتاق "
           "های زیادی و باغ بزرگی دارد هر شب با هم شام می خوریم و درباره "
           "کار مدرسه کتاب موسیقی و هر چه در هفته اتفاق افتاد صحبت می "
           "کنیم چون زمان خیلی زود می گذرد وقتی با کسانی که دوستشان داری "
           "خوشحال هستی"
           " این متن فارسی است ما به زبان فارسی صحبت می کنیم"),
}

LANGS = list(SEED_TEXT)          # fixed order = deterministic tie-break
CYR_LANGS = list(SEED_TEXT_CYR)
ARAB_LANGS = list(SEED_TEXT_ARAB)
MAX_WORDS = 200                  # score at most the first 200 words
_SCALE = 1000                    # milli-nats (integer weights)
EVIDENCE_FLOOR_MILLI = -7200     # avg log p below -7.2 nats -> unknown


def word_trigrams(word: str) -> list[str]:
    """Padded character trigrams of one lowercase word: windows of
    '#word#' (single window if shorter than 3)."""
    w = "#" + word + "#"
    if len(w) < 3:
        return [w]
    return [w[i:i + 3] for i in range(len(w) - 2)]


def text_trigrams(text: str, max_words: int = MAX_WORDS,
                  word_re: "re.Pattern[str]" = _WORD) -> list[str]:
    words = word_re.findall((text or "").lower())[:max_words]
    out: list[str] = []
    for w in words:
        out.extend(word_trigrams(w))
    return out


def _build_profiles(seeds: dict[str, str], word_re: "re.Pattern[str]",
                    ) -> tuple[dict[str, dict[str, int]], dict[str, int]]:
    """(weights[lang][tri] in milli-nats, floor[lang]).

    weight = round(SCALE * ln(count / total)); floor (unseen trigram)
    = round(SCALE * ln(0.5 / total))."""
    weights: dict[str, dict[str, int]] = {}
    floors: dict[str, int] = {}
    for lang, seed in seeds.items():
        counts: dict[str, int] = {}
        for tri in text_trigrams(seed, max_words=10_000, word_re=word_re):
            counts[tri] = counts.get(tri, 0) + 1
        total = sum(counts.values())
        weights[lang] = {t: round(_SCALE * math.log(c / total))
                         for t, c in counts.items()}
        floors[lang] = round(_SCALE * math.log(0.5 / total))
    return weights, floors


PROFILES, FLOORS = _build_profiles(SEED_TEXT, _WORD)
CYR_PROFILES, CYR_FLOORS = _build_profiles(SEED_TEXT_CYR, _CYR_WORD)
ARAB_PROFILES, ARAB_FLOORS = _build_profiles(SEED_TEXT_ARAB, _ARAB_WORD)

# script-routed groups: group tag -> (langs, profiles, floors, word
# regex, word-class SQL letters). The oracle twin iterates this table.
GROUPS = {
    "latin": (LANGS, PROFILES, FLOORS, _WORD, _LETTERS),
    "cyr": (CYR_LANGS, CYR_PROFILES, CYR_FLOORS, _CYR_WORD, _CYR_LETTERS),
    "arab": (ARAB_LANGS, ARAB_PROFILES, ARAB_FLOORS, _ARAB_WORD,
             _ARAB_LETTERS),
}


def _script_language(text: str) -> str:
    """Single-language script short-circuits, checked in a fixed order
    (Kana implies Japanese even when Han characters are also present;
    Greek and Devanagari each map to one supported language)."""
    if _KANA.search(text):
        return "ja"
    if _HANGUL.search(text):
        return "ko"
    if _HAN.search(text):
        return "zh"
    if _GREEK.search(text):
        return "el"
    if _DEVANAGARI.search(text):
        return "hi"
    for lang, rx in _SCRIPT_RES:
        if rx.search(text):
            return lang
    return ""


def _build_combined(langs: list[str], profiles: dict[str, dict[str, int]],
                    floors: dict[str, int]):
    """tri -> int64[|langs|] weight vector (per-language floor where the
    trigram is unseen) — one dict lookup per trigram scores ALL
    languages at once (the batch hot path)."""
    import numpy as np
    floorvec = np.array([floors[lg] for lg in langs], dtype=np.int64)
    combined: dict[str, "np.ndarray"] = {}
    for li, lang in enumerate(langs):
        for t, v in profiles[lang].items():
            vec = combined.get(t)
            if vec is None:
                vec = floorvec.copy()
                combined[t] = vec
            vec[li] = v
    return combined, floorvec


_COMBINED_BY_GROUP = {tag: _build_combined(langs, profiles, floors)
                      for tag, (langs, profiles, floors, _, _)
                      in GROUPS.items()}
_COMBINED, _FLOORVEC = _COMBINED_BY_GROUP["latin"]


def _route_group(text: str) -> str:
    """Profile group for a text: Cyrillic before Arabic script before
    Latin, in a fixed order (mixed-script text routes to the first
    matching group, same first-wins rule as the script short-circuits)."""
    if _CYR_ANY.search(text):
        return "cyr"
    if _ARAB_ANY.search(text):
        return "arab"
    return "latin"


def detect_language(text: str) -> str:
    """Best profile by total trigram log probability (integer milli-nats,
    exact in any engine); '' when empty, letterless, or below the
    evidence floor. Script short-circuits first (ja/ko/zh/el/hi), then
    the text is scored only against its script group's languages. Ties
    break on the fixed group language order (numpy argmax returns the
    first maximum, same first-wins rule)."""
    import numpy as np
    if not text:
        return ""
    script = _script_language(text)
    if script:
        return script
    group = _route_group(text)
    langs, _, _, word_re, _ = GROUPS[group]
    tris = text_trigrams(text, word_re=word_re)
    if not tris:
        return ""
    combined, floorvec = _COMBINED_BY_GROUP[group]
    get = combined.get
    s = np.sum([get(t, floorvec) for t in tris], axis=0,
               dtype=np.int64)
    bi = int(np.argmax(s))
    best = int(s[bi])
    # unknown if the average log-prob is below the evidence floor —
    # compared in exact integer arithmetic (both sides are milli-nats):
    #   best / len(tris) < EVIDENCE_FLOOR_MILLI
    if best < EVIDENCE_FLOOR_MILLI * len(tris):
        return ""
    return langs[bi]


@pandas_udf(StringType())
def detect_language_udf(texts: pd.Series) -> pd.Series:
    return texts.fillna("").map(detect_language)
